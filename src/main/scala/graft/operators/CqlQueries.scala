package graft.operators

import graft.cql.CqlEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** SURVEY §2.10/§2.11 — the CQL TEXT path itself as driver-verified
  * queries: these run reference-style CQL strings end-to-end (tokenizer →
  * parser → validation → Catalyst plan) and land in the same DuckDB hash
  * gate as every native query. A reference user's query text, not just its
  * semantics, is what gets verified.
  */
/** The gate's audit trigger (upstream's canonical trigger example
  * [U examples/triggers/AuditTrigger.java]): mirror every mutation on the
  * base table into `audit11`, keyed by (row key, mutation writetime) —
  * writetimes are the session's deterministic clock, so the audit rows
  * are twin-expressible. Loaded by FQCN via `CREATE TRIGGER … USING`. */
class GateAuditTrigger extends graft.cql.GraftTrigger {
  override def augment(table: String, row: Map[String, Any]): Seq[String] = {
    val op = if (row("_deleted") == true) "D" else "W"
    val v = Option(row.getOrElse("v", null)).map(String.valueOf)
      .getOrElse("null")
    Seq(s"INSERT INTO audit11 (k, wt, op, v) VALUES " +
      s"(${row("k")}, ${row("_writetime")}, '$op', $v)")
  }
}

object CqlQueries {

  /** CQL1: clustering slice — point partition, reversed clustering order,
    * LIMIT. The (ts, event_id) clustering pair is unique, so CQL's own
    * ordering is already total (no wrapper sort). */
  def cql1_slice(s: SparkSession, d: String): DataFrame =
    CqlEngine.forFixtures(s, d).execute(
      "SELECT ts, event_id, event_type FROM events WHERE user_id = 5 " +
        "ORDER BY ts DESC, event_id DESC LIMIT 20")

  /** CQL2: aggregation through the text path. CQL defines no result order
    * for aggregates (the coordinator streams groups), so the gate's total
    * order is applied OUTSIDE the engine — on the returned DataFrame. */
  def cql2_group(s: SparkSession, d: String): DataFrame =
    CqlEngine.forFixtures(s, d).execute(
      "SELECT l_returnflag, count(*) AS n, min(l_quantity) AS minq, " +
        "max(l_quantity) AS maxq FROM lineitem GROUP BY l_returnflag " +
        "ALLOW FILTERING")
      .orderBy("l_returnflag")

  /** CQL3: the WRITE path end-to-end through the driver's hash gate. A
    * deterministic script of 40 mutations (INSERT / UPDATE upsert / row
    * DELETE, plus one UNLOGGED BATCH sharing a single `USING TIMESTAMP` —
    * upstream batch-timestamp rule, `cql3/statements/BatchStatement.java`
    * [U]) is derived from the 40 smallest orders, applied through the CQL
    * text path (tokenizer → parser → upsert log → reconcile), and the
    * final table state is SELECTed back. The DuckDB twin reconstructs the
    * same state with last-write-wins SQL over the identical op script, so
    * INSERT/UPDATE/DELETE/BATCH semantics — not just parsing — are
    * hash-verified. Equal-timestamp batch collisions resolve by the
    * upstream (timestamp, value) cell tie-break, mirrored as
    * `ORDER BY wt DESC, del DESC, v DESC` in the twin.
    *
    * The per-statement driver loop is the nature of a session API (each
    * statement is a client round-trip upstream too); the table state
    * itself stays distributed and the SELECT is a normal Catalyst plan. */
  def cql3_mutations(s: SparkSession, d: String): DataFrame = {
    val sess = graft.cql.CqlSession(s)
    sess.execute(
      "CREATE TABLE kv (k bigint, c bigint, v double, PRIMARY KEY (k, c))")
    val src = s.read.parquet(s"$d/orders.parquet")
      .orderBy("o_orderkey").limit(40)
      .select("o_orderkey", "o_totalprice").collect()
    val batch = scala.collection.mutable.ArrayBuffer.empty[String]
    src.zipWithIndex.foreach { case (r, i) =>
      val key = r.getLong(0); val p = r.getDouble(1)
      val (k, c) = (key % 8, key % 5)
      i % 10 match {
        case m if m <= 5 =>
          sess.execute(s"INSERT INTO kv (k, c, v) VALUES ($k, $c, $p) " +
            s"USING TIMESTAMP ${1000 + i}")
        case 6 | 7 =>
          sess.execute(s"UPDATE kv USING TIMESTAMP ${1000 + i} " +
            s"SET v = ${p + 1} WHERE k = $k AND c = $c")
        case 8 =>
          sess.execute(s"DELETE FROM kv USING TIMESTAMP ${1000 + i} " +
            s"WHERE k = $k AND c = $c")
        case _ =>
          batch += s"INSERT INTO kv (k, c, v) VALUES ($k, $c, ${p * 2})"
      }
    }
    sess.execute(batch.mkString(
      "BEGIN UNLOGGED BATCH USING TIMESTAMP 2000 ", "; ", "; APPLY BATCH"))
    // CQL defines no order for an unrestricted scan; total order applied
    // on the returned DataFrame (outside the engine), as in cql2.
    sess.execute("SELECT k, c, v FROM kv").orderBy("k", "c")
  }

  /** CQL4: CAST + aliasing through the text path (CastFcts [U]) — CQL
    * type names, engine type mapper, upstream column naming, inside the
    * hash gate. */
  def cql4_cast(s: SparkSession, d: String): DataFrame =
    CqlEngine.forFixtures(s, d).execute(
      "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS int) AS qty_i, " +
        "CAST(l_orderkey AS text) AS key_s, CAST(l_linenumber AS bigint) " +
        "FROM lineitem WHERE l_orderkey < 15 ALLOW FILTERING")
      .orderBy("l_orderkey", "l_linenumber", "qty_i")

  /** CQL5: `GROUP BY floor(ts, 12h)` through the text path — upstream
    * 4.0's time-bucketed aggregation (TimeFcts floor [U]), epoch-aligned
    * fixed-width buckets. A 12-hour width (not 1d) proves the bucket is
    * floor's arithmetic grid, not a date_trunc alias. */
  def cql5_time_bucket(s: SparkSession, d: String): DataFrame =
    CqlEngine.forFixtures(s, d).execute(
      "SELECT floor(ts, 12h) AS bucket, count(*) AS n, " +
        "min(value) AS minv FROM events " +
        "GROUP BY floor(ts, 12h) ALLOW FILTERING")
      .orderBy("bucket")

  /** CQL6: `WITH CLUSTERING ORDER BY (c DESC)` end-to-end — the declared
    * DESC table is created and populated through the text path, then the
    * reversed slice (`c >= 2`, declared DESC order) reads back through the
    * direction rule (upstream StatementRestrictions: the requested order
    * must follow the declared CLUSTERING ORDER or its exact reverse). The
    * DuckDB twin serves the same slice from the fixture rows directly, so
    * option parsing, validation, and the slice itself are hash-verified. */
  def cql6_clustering_order(s: SparkSession, d: String): DataFrame = {
    val sess = graft.cql.CqlSession(s)
    sess.execute("CREATE TABLE tl (k bigint, c bigint, v double, " +
      "PRIMARY KEY (k, c)) WITH CLUSTERING ORDER BY (c DESC)")
    val src = s.read.parquet(s"$d/lineitem.parquet")
      .filter(col("l_orderkey") <= 10)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      // (k, c) repeats in the fixture: order ties by quantity so the
      // upsert's last-write-wins winner is deterministic (= max quantity)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity").collect()
    src.foreach { r =>
      sess.execute(s"INSERT INTO tl (k, c, v) VALUES (${r.getLong(0)}, " +
        s"${r.getInt(1)}, ${r.getDouble(2)})")
    }
    sess.execute("SELECT k, c, v FROM tl WHERE k = 1 AND c >= 2 ORDER BY c DESC")
  }

  /** CQL7 — O4 paging through the DRIVER'S hash gate (was spec-only): two
    * paged reads at deliberately non-aligned fetch sizes, pages unioned
    * back together. The gate's compare verifies page COMPLETENESS — a row
    * skipped or duplicated at ANY page boundary breaks the row count and
    * hash. Covers both resume-token shapes: the multi-partition (pk IN)
    * token that carries the partition key, and the single-partition
    * pushed clustering-tuple fast path. Pages materialize fetchSize rows
    * each — that is what paging MEANS (the client reads them); the
    * per-page LIMIT plans TakeOrderedAndProject, never a full sort. */
  def cql7_paged(s: SparkSession, d: String): DataFrame = {
    val eng = CqlEngine.forFixtures(s, d)
    val multi = eng.executePaged(
      "SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IN (3, 5, 9)", 50).toSeq
    val single = eng.executePaged(
      "SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id = 17", 19).toSeq
    (multi ++ single).reduce(_ unionByName _)
      .orderBy("user_id", "ts", "event_id")
  }

  /** CQL8 — LWT conditional writes through the DRIVER'S hash gate (they
    * were session-spec-only): a deterministic script derived from the 24
    * smallest orders, where each op's applied/rejected outcome FOLLOWS
    * FROM THE DATA and is re-derived in the DuckDB twin —
    *  1. `INSERT … IF NOT EXISTS` per (orderkey%8) class in orderkey
    *     order: only the FIRST order of each class applies;
    *  2. per class, `UPDATE … SET v = <last price + 1e6> IF src < <last
    *     key>`: the stored src is the class's FIRST key, so the condition
    *     holds exactly for classes with ≥ 2 members;
    *  3. `DELETE … IF EXISTS` for classes 0 and 1: applies where round 1
    *     created a row (and is a no-op otherwise — mirrored by the twin
    *     simply excluding those classes).
    * The Paxos read-check-apply collapses to the single-writer case, but
    * the CONDITION evaluation against reconciled state — which class
    * keeps which value — is what the twin re-computes and the hash
    * verifies. */
  def cql8_lwt(s: SparkSession, d: String): DataFrame = {
    val sess = graft.cql.CqlSession(s)
    sess.execute(
      "CREATE TABLE lwt (k bigint PRIMARY KEY, v double, src bigint)")
    val src = s.read.parquet(s"$d/orders.parquet")
      .orderBy("o_orderkey").limit(24)
      .select("o_orderkey", "o_totalprice").collect()
    src.foreach { r =>
      val key = r.getLong(0); val p = r.getDouble(1)
      sess.execute(s"INSERT INTO lwt (k, v, src) VALUES (${key % 8}, $p, " +
        s"$key) IF NOT EXISTS")
    }
    src.groupBy(_.getLong(0) % 8).foreach { case (k, rows) =>
      val last = rows.maxBy(_.getLong(0))
      sess.execute(s"UPDATE lwt SET v = ${last.getDouble(1) + 1000000} " +
        s"WHERE k = $k IF src < ${last.getLong(0)}")
    }
    (0L to 1L).foreach(k =>
      sess.execute(s"DELETE FROM lwt WHERE k = $k IF EXISTS"))
    sess.execute("SELECT k, v, src FROM lwt ALLOW FILTERING")
      .orderBy("k")
  }

  /** CQL9 — the MV TEXT path in the gate: base table populated through
    * CQL, `CREATE MATERIALIZED VIEW` with the upstream key-coverage and
    * IS NOT NULL rules, then a partition-restricted SELECT **on the
    * view's own key**. The twin serves the same rows from the fixture
    * directly — view maintenance (read-time here, eager upstream; same
    * observable rows) is hash-verified, not just the DDL. */
  def cql9_mv(s: SparkSession, d: String): DataFrame = {
    val sess = graft.cql.CqlSession(s)
    sess.execute("CREATE TABLE base9 (k bigint, c bigint, st text, " +
      "q double, PRIMARY KEY (k, c))")
    // (l_orderkey, l_linenumber) repeats in the fixture, so the upsert's
    // last-write-wins resolves each (k, c): order ties by (q, st) so the
    // winner — max (q, st) — is deterministic and twin-expressible
    val src = s.read.parquet(s"$d/lineitem.parquet")
      .filter(col("l_orderkey") <= 60)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .collect()
    src.foreach { r =>
      sess.execute(s"INSERT INTO base9 (k, c, st, q) VALUES " +
        s"(${r.getLong(0)}, ${r.getInt(1)}, '${r.getString(2)}', " +
        s"${r.getDouble(3)})")
    }
    sess.execute("CREATE MATERIALIZED VIEW mv9 AS SELECT st, k, c, q " +
      "FROM base9 WHERE st IS NOT NULL AND k IS NOT NULL AND " +
      "c IS NOT NULL PRIMARY KEY (st, k, c)")
    sess.execute("SELECT st, k, c, q FROM mv9 WHERE st = 'R'")
      .orderBy("k", "c")
  }

  /** CQL10 — the PREPARED-STATEMENT surface in the gate: the same
    * parse-once/bind-per-execution workflow a driver runs, with every
    * marker position exercised — positional `?` (values + trailing USING
    * TIMESTAMP), named `:name` (UPDATE's leading USING; DELETE), and a
    * LIMIT marker on a single-partition read (deterministic: clustering
    * order). A 30-op script (10 inserts / 10 updates / 10 deletes at
    * distinct bound timestamps) reconciles through the upsert log; the
    * twin replays it as last-write-wins SQL, so BINDING — order, names,
    * USING routing — is what the hash verifies. */
  def cql10_prepared(s: SparkSession, d: String): DataFrame = {
    val sess = graft.cql.CqlSession(s)
    sess.execute(
      "CREATE TABLE pp (k bigint, c bigint, v double, PRIMARY KEY (k, c))")
    val ins = sess.prepare(
      "INSERT INTO pp (k, c, v) VALUES (?, ?, ?) USING TIMESTAMP ?")
    val upd = sess.prepare(
      "UPDATE pp USING TIMESTAMP :ts SET v = :v WHERE k = :k AND c = :c")
    val del = sess.prepare(
      "DELETE FROM pp USING TIMESTAMP :ts WHERE k = :k AND c = :c")
    val src = s.read.parquet(s"$d/orders.parquet")
      .orderBy("o_orderkey").limit(30)
      .select("o_orderkey", "o_totalprice").collect()
    src.zipWithIndex.foreach { case (r, i) =>
      val key = r.getLong(0); val p = r.getDouble(1)
      val (k, c, ts) = (key % 6, key % 4, 1000L + i)
      i % 3 match {
        case 0 => ins.execute(k, c, p, ts)
        case 1 => upd.executeNamed(
          Map("ts" -> ts, "v" -> (p + 5), "k" -> k, "c" -> c))
        case _ => del.executeNamed(Map("ts" -> ts, "k" -> k, "c" -> c))
      }
    }
    val all = sess.execute("SELECT k, c, v FROM pp")
    val lim = sess.prepare("SELECT k, c, v FROM pp WHERE k = ? LIMIT ?")
      .execute(1L, 3L)
    all.unionByName(lim).orderBy("k", "c", "v")
  }

  /** CQL11 — the TRIGGER surface in the gate: a [[GateAuditTrigger]]
    * (upstream's audit-trigger example [U examples/triggers/]) mirrors
    * every mutation on the base table into an audit table via
    * trigger-augmented writes. What gets hash-verified is the trigger
    * actually FIRING inside the write path — per-mutation augment,
    * atomic commit with the original — not just the DDL parsing. 20
    * upserts (keys collide mod 10) + 2 row deletes → 22 audit rows; the
    * twin rebuilds the same multiset from the fixture. */
  def cql11_triggers(s: SparkSession, d: String): DataFrame = {
    val sess = graft.cql.CqlSession(s)
    sess.execute("CREATE TABLE t11 (k bigint PRIMARY KEY, v double)")
    sess.execute("CREATE TABLE audit11 (k bigint, wt bigint, op text, " +
      "v double, PRIMARY KEY (k, wt))")
    sess.execute("CREATE TRIGGER aud ON t11 " +
      "USING 'graft.operators.GateAuditTrigger'")
    val src = s.read.parquet(s"$d/orders.parquet")
      .orderBy("o_orderkey").limit(20)
      .select("o_orderkey", "o_totalprice").collect()
    src.foreach { r =>
      sess.execute(s"INSERT INTO t11 (k, v) VALUES (${r.getLong(0) % 10}, " +
        s"${r.getDouble(1)})")
    }
    (0L to 1L).foreach(k => sess.execute(s"DELETE FROM t11 WHERE k = $k"))
    sess.execute("SELECT k, op, v FROM audit11 ALLOW FILTERING")
      .orderBy("k", "op", "v")
  }

  /** CQL12 — TRACING in the gate, invariant form (the f1_current_time
    * convention: durations/uuids are nondeterministic, so the declared
    * output projects what IS deterministic): for each traced statement,
    * its request text, command, event count, whether the parse and
    * completion phase events were recorded, and whether measured
    * durations/offsets are sane. The twin is the literal expected table. */
  def cql12_tracing(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sess = graft.cql.CqlSession(s)
    sess.execute("CREATE TABLE t12 (k bigint PRIMARY KEY, v bigint)")
    sess.execute("TRACING ON")
    sess.execute("INSERT INTO t12 (k, v) VALUES (1, 10)")
    sess.execute("UPDATE t12 SET v = 11 WHERE k = 1")
    sess.execute("SELECT v FROM t12 WHERE k = 1")
    sess.execute("TRACING OFF")
    val sessions = sess.execute(
      "SELECT session_id, command, request, duration " +
        "FROM system_traces.sessions")
    val events = sess.execute(
      "SELECT session_id, activity, source_elapsed " +
        "FROM system_traces.events")
    sessions.join(events, "session_id")
      .groupBy(col("request"), col("command"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("activity").startsWith("Parsing")).as("parsed"),
        max(col("activity").contains("mutation") ||
          col("activity").contains("Catalyst")).as("completed"),
        // UNIVERSAL (min = AND over rows): one sane event must not mask
        // a negative elapsed on another — that is the regression this
        // invariant column exists to catch
        min(col("duration") >= 0 && col("source_elapsed") >= 0)
          .as("timing_sane"))
      .orderBy("request")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cql11_triggers" -> (cql11_triggers _),
    "cql12_tracing" -> (cql12_tracing _),
    "cql10_prepared" -> (cql10_prepared _),
    "cql8_lwt" -> (cql8_lwt _),
    "cql9_mv" -> (cql9_mv _),
    "cql7_paged" -> (cql7_paged _),
    "cql6_clustering_order" -> (cql6_clustering_order _),
    "cql1_slice" -> (cql1_slice _),
    "cql2_group" -> (cql2_group _),
    "cql3_mutations" -> (cql3_mutations _),
    "cql4_cast" -> (cql4_cast _),
    "cql5_time_bucket" -> (cql5_time_bucket _),
  )

  val oracle: Map[String, String] = Map(
    // every upsert audits one 'W' row (keys collide mod 10 — each source
    // row still audits separately), each row delete audits one 'D' row
    // with a null value
    "cql11_triggers" ->
      """WITH src AS (SELECT o_orderkey, o_totalprice
        |             FROM orders ORDER BY o_orderkey LIMIT 20)
        |SELECT o_orderkey % 10 AS k, 'W' AS op, o_totalprice AS v FROM src
        |UNION ALL SELECT 0 AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS v
        |UNION ALL SELECT 1 AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS v
        |ORDER BY k, op, v""".stripMargin,
    // the invariant projection of the three traced statements: 2 phase
    // events each (parse + completion), plus the SELECT's read-path event,
    // sane measured timings
    "cql12_tracing" ->
      """SELECT request, command, CAST(n_events AS BIGINT) AS n_events,
        |  parsed, completed, timing_sane FROM (VALUES
        |  ('INSERT INTO t12 (k, v) VALUES (1, 10)', 'QUERY', 2,
        |   true, true, true),
        |  ('SELECT v FROM t12 WHERE k = 1', 'QUERY', 3, true, true, true),
        |  ('UPDATE t12 SET v = 11 WHERE k = 1', 'QUERY', 2,
        |   true, true, true))
        |AS t(request, command, n_events, parsed, completed, timing_sane)
        |ORDER BY request""".stripMargin,
    // same 30-op script replayed as last-write-wins SQL (timestamps are
    // all distinct, so the winner is simply the latest op per (k, c));
    // the limited read re-derives the single-partition clustering-order
    // LIMIT 3 page
    "cql10_prepared" ->
      """WITH src AS (
        |  SELECT o_orderkey AS key, o_totalprice AS p,
        |         row_number() OVER (ORDER BY o_orderkey) - 1 AS i
        |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 30)
        |), ops AS (
        |  SELECT key % 6 AS k, key % 4 AS c,
        |    CASE WHEN i % 3 = 0 THEN p WHEN i % 3 = 1 THEN p + 5 END AS v,
        |    CASE WHEN i % 3 = 2 THEN 1 ELSE 0 END AS del,
        |    1000 + i AS wt
        |  FROM src
        |), win AS (
        |  SELECT *, row_number() OVER (PARTITION BY k, c
        |    ORDER BY wt DESC) AS rn FROM ops
        |), fin AS (SELECT k, c, v FROM win WHERE rn = 1 AND del = 0),
        |lim AS (SELECT k, c, v FROM fin WHERE k = 1 ORDER BY c LIMIT 3)
        |SELECT k, c, v FROM fin
        |UNION ALL SELECT k, c, v FROM lim ORDER BY k, c, v""".stripMargin,
    // max() models the upsert: the Spark side INSERTs in ascending
    // quantity order per (k, c), so last-write-wins keeps the max
    "cql6_clustering_order" ->
      """SELECT l_orderkey AS k, cast(l_linenumber AS bigint) AS c,
        |  max(l_quantity) AS v FROM lineitem
        |WHERE l_orderkey = 1 AND l_linenumber >= 2
        |GROUP BY 1, 2 ORDER BY c DESC""".stripMargin,
    "cql1_slice" ->
      """SELECT cast(ts AS timestamp) AS ts, event_id, event_type
        |FROM events WHERE user_id = 5
        |ORDER BY ts DESC, event_id DESC LIMIT 20""".stripMargin,
    "cql7_paged" ->
      """SELECT user_id, cast(ts AS timestamp) AS ts, event_id, event_type
        |FROM events WHERE user_id IN (3, 5, 9, 17)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    // re-derive each LWT outcome from the data: class winner = first
    // order (IF NOT EXISTS), v bumped to last price + 1e6 only for
    // classes with >= 2 members (IF src < lastk), classes 0-1 deleted
    "cql8_lwt" ->
      """WITH o AS (SELECT o_orderkey AS key, o_totalprice AS p
        |           FROM orders ORDER BY o_orderkey LIMIT 24),
        |cls AS (SELECT key % 8 AS k, key, p FROM o),
        |agg AS (SELECT k, min(key) AS firstk, max(key) AS lastk,
        |               count(*) AS n FROM cls GROUP BY k)
        |SELECT a.k AS k,
        |  CASE WHEN a.n > 1 THEN l.p + 1000000 ELSE f.p END AS v,
        |  a.firstk AS src
        |FROM agg a
        |JOIN cls f ON f.k = a.k AND f.key = a.firstk
        |JOIN cls l ON l.k = a.k AND l.key = a.lastk
        |WHERE a.k > 1 ORDER BY k""".stripMargin,
    // last-write-wins winner per (k, c) = max (q, st) — the insertion
    // order the Spark side uses
    "cql9_mv" ->
      """SELECT st, k, c, q FROM (
        |  SELECT l_orderkey AS k, l_linenumber AS c, l_returnflag AS st,
        |    l_quantity AS q,
        |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY l_quantity DESC, l_returnflag DESC) AS rn
        |  FROM lineitem WHERE l_orderkey <= 60)
        |WHERE rn = 1 AND st = 'R' ORDER BY k, c""".stripMargin,
    "cql2_group" ->
      """SELECT l_returnflag, count(*) AS n,
        |  min(l_quantity) AS minq, max(l_quantity) AS maxq
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Same 40-op script as the Spark side, replayed as last-write-wins SQL:
    // op i on orders row i (by o_orderkey): i%10<=5 INSERT p @1000+i,
    // 6-7 UPDATE p+1 @1000+i, 8 row DELETE @1000+i, 9 batched INSERT p*2
    // @2000 (shared batch timestamp). Winner per (k,c): latest timestamp,
    // deletes beat writes at a tie, then greater value (upstream cell
    // reconcile order).
    "cql3_mutations" ->
      """WITH src AS (
        |  SELECT o_orderkey AS key, o_totalprice AS p,
        |         row_number() OVER (ORDER BY o_orderkey) - 1 AS i
        |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 40)
        |), ops AS (
        |  SELECT key % 8 AS k, key % 5 AS c,
        |    CASE WHEN i % 10 <= 5 THEN p
        |         WHEN i % 10 <= 7 THEN p + 1
        |         WHEN i % 10 = 9 THEN p * 2 END AS v,
        |    CASE WHEN i % 10 = 8 THEN 1 ELSE 0 END AS del,
        |    CASE WHEN i % 10 = 9 THEN 2000 ELSE 1000 + i END AS wt
        |  FROM src
        |), win AS (
        |  SELECT *, row_number() OVER (PARTITION BY k, c
        |    ORDER BY wt DESC, del DESC, v DESC) AS rn FROM ops
        |)
        |SELECT k, c, v FROM win WHERE rn = 1 AND del = 0
        |ORDER BY k, c""".stripMargin,
    // same epoch-aligned 12h grid: make_timestamp over floored epoch µs
    "cql5_time_bucket" ->
      """SELECT make_timestamp((epoch_us(cast(ts AS timestamp)) // 43200000000)
        |    * 43200000000) AS bucket,
        |  count(*) AS n, min(value) AS minv
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    // unaliased CAST keeps Cassandra's result-column name — mirrored as a
    // quoted alias so the driver's name-sorted compare lines up
    "cql4_cast" ->
      """SELECT l_orderkey, l_linenumber, cast(l_quantity AS int) AS qty_i,
        |  cast(l_orderkey AS varchar) AS key_s,
        |  cast(l_linenumber AS bigint) AS "cast(l_linenumber as bigint)"
        |FROM lineitem WHERE l_orderkey < 15
        |ORDER BY l_orderkey, l_linenumber, qty_i""".stripMargin,
  )
}

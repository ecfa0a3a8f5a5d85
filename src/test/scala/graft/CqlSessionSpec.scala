package graft

import graft.cql.{CqlInvalidQueryException, CqlSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The Cassandra write-path semantics, end-to-end through CQL text:
  * upserts, per-cell reconcile, tombstone shadowing, timestamp tie-breaks.
  * (Harry-style scenario tests — SURVEY §5.) */
class CqlSessionSpec extends SparkSpec {

  private def freshSession = CqlSession.emptyTable(spark, "users",
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("name", StringType),
      StructField("age", LongType))),
    partitionKeys = Seq("user_id"))

  private def rows(s: CqlSession) =
    s.execute("SELECT user_id, name, age FROM users WHERE user_id = 1")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))

  test("INSERT then SELECT: the row is visible with all cells") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    assert(rows(s) === Seq((1L, Some("ada"), Some(36L))))
  }

  test("partial UPDATE merges per cell — untouched columns survive") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    s.execute("UPDATE users SET name = 'grace' WHERE user_id = 1")
    assert(rows(s) === Seq((1L, Some("grace"), Some(36L))))
  }

  test("an older USING TIMESTAMP write loses to a newer cell") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'new') USING TIMESTAMP 100")
    s.execute("UPDATE users USING TIMESTAMP 50 SET name = 'old' WHERE user_id = 1")
    assert(rows(s).head._2 === Some("new"))
  }

  test("tombstone shadows older cells but NOT newer timestamps (zombie rule)") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'a') USING TIMESTAMP 5")
    s.execute("DELETE FROM users USING TIMESTAMP 10 WHERE user_id = 1")
    assert(rows(s).isEmpty, "delete at ts=10 hides the ts=5 insert")
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'b') USING TIMESTAMP 8")
    assert(rows(s).isEmpty, "ts=8 write is still shadowed by the ts=10 delete")
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'c') USING TIMESTAMP 11")
    assert(rows(s).head._2 === Some("c"), "ts=11 write survives the ts=10 delete")
  }

  test("equal-timestamp conflict resolves to the greater value (reconcile tie-break)") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'bb') USING TIMESTAMP 7")
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'aa') USING TIMESTAMP 7")
    assert(rows(s).head._2 === Some("bb"))
  }

  test("writes must address the full primary key") {
    val s = freshSession
    val e = intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO users (name) VALUES ('nobody')")
    }
    assert(e.getMessage.contains("PRIMARY KEY"))
  }

  test("USING TTL expires individual cells, not the whole row") {
    val s = freshSession
    // name written at t=1000s with 60s TTL; age written without TTL
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'fading') " +
      "USING TIMESTAMP 1000000000 AND TTL 60")
    s.execute("INSERT INTO users (user_id, age) VALUES (1, 99) " +
      "USING TIMESTAMP 1000000001")
    def at(nowUs: Long) = s.view("users", Some(nowUs))
      .collect().map(r => (Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    // before expiry (t=1030s): both cells live
    assert(at(1030L * 1000000) === Seq((Some("fading"), Some(99L))))
    // after expiry (t=1061s): name gone, age survives — row still exists
    assert(at(1061L * 1000000) === Seq((None, Some(99L))))
  }

  test("writetime(c) is per CELL: each column reports its own write's timestamp") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'x', 1) USING TIMESTAMP 100")
    s.execute("UPDATE users USING TIMESTAMP 200 SET name = 'y' WHERE user_id = 1")
    val r = s.execute(
      "SELECT writetime(name) AS wn, writetime(age) AS wa FROM users WHERE user_id = 1")
      .head()
    assert(r.getLong(0) === 200L && r.getLong(1) === 100L)
  }

  test("INSERT and UPDATE are the same upsert operation") {
    val s = freshSession
    s.execute("UPDATE users SET name = 'upserted' WHERE user_id = 1")
    assert(rows(s) === Seq((1L, Some("upserted"), None)))
  }

  // -- BATCH ----------------------------------------------------------------

  test("BATCH applies all statements with ONE shared timestamp") {
    val s = freshSession
    s.execute("""BEGIN BATCH
      INSERT INTO users (user_id, name) VALUES (1, 'a');
      INSERT INTO users (user_id, age) VALUES (1, 42);
      APPLY BATCH""")
    val r = s.execute(
      "SELECT writetime(name) AS wn, writetime(age) AS wa FROM users WHERE user_id = 1")
      .head()
    assert(r.getLong(0) === r.getLong(1), "batch statements share a timestamp")
    assert(rows(s) === Seq((1L, Some("a"), Some(42L))))
  }

  test("BATCH equals the same writes applied individually (same timestamps)") {
    val a = freshSession
    a.execute("BEGIN UNLOGGED BATCH " +
      "INSERT INTO users (user_id, name, age) VALUES (1, 'x', 1); " +
      "UPDATE users SET name = 'y' WHERE user_id = 1; " +
      "APPLY BATCH")
    val b = freshSession
    b.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'x', 1) USING TIMESTAMP 1")
    b.execute("UPDATE users USING TIMESTAMP 1 SET name = 'y' WHERE user_id = 1")
    assert(rows(a) === rows(b))
  }

  test("BATCH USING TIMESTAMP is honored and excludes statement timestamps") {
    val s = freshSession
    s.execute("BEGIN BATCH USING TIMESTAMP 777 " +
      "INSERT INTO users (user_id, name) VALUES (1, 'ts'); APPLY BATCH")
    val wt = s.execute(
      "SELECT writetime(name) AS wn FROM users WHERE user_id = 1").head().getLong(0)
    assert(wt === 777L)
    val e = intercept[CqlInvalidQueryException] {
      s.execute("BEGIN BATCH USING TIMESTAMP 7 " +
        "INSERT INTO users (user_id, name) VALUES (1, 'x') USING TIMESTAMP 8; " +
        "APPLY BATCH")
    }
    assert(e.getMessage.contains("Timestamp"))
  }

  // -- collection mutations -------------------------------------------------

  private def collSession = CqlSession.emptyTable(spark, "profiles",
    StructType(Seq(
      StructField("id", LongType),
      StructField("events", ArrayType(LongType)),
      StructField("tags", ArrayType(StringType)),
      StructField("props", MapType(StringType, StringType)))),
    partitionKeys = Seq("id"))

  private def collRow(s: CqlSession) = {
    val r = s.execute("SELECT events, tags, props FROM profiles WHERE id = 1").head()
    (if (r.isNullAt(0)) null else r.getSeq[Long](0),
      if (r.isNullAt(1)) null else r.getSeq[String](1),
      if (r.isNullAt(2)) null else r.getMap[String, String](2))
  }

  test("list append / discard keeps order and removes all occurrences") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, events) VALUES (1, [3, 1, 3, 2])")
    s.execute("UPDATE profiles SET events = events + [4, 3] WHERE id = 1")
    assert(collRow(s)._1 === Seq(3L, 1L, 3L, 2L, 4L, 3L))
    s.execute("UPDATE profiles SET events = events - [3] WHERE id = 1")
    assert(collRow(s)._1 === Seq(1L, 2L, 4L), "discard removes ALL occurrences")
  }

  test("set add / discard normalizes to sorted distinct") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, tags) VALUES (1, {'b', 'a', 'b'})")
    assert(collRow(s)._2 === Seq("a", "b"))
    s.execute("UPDATE profiles SET tags = tags + {'c', 'a'} WHERE id = 1")
    assert(collRow(s)._2 === Seq("a", "b", "c"))
    s.execute("UPDATE profiles SET tags = tags - {'a'} WHERE id = 1")
    assert(collRow(s)._2 === Seq("b", "c"))
  }

  test("map put via m[k] = v and m = m + {..}; key discard via m = m - {..}") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, props) VALUES (1, {'x': '1'})")
    s.execute("UPDATE profiles SET props['y'] = '2' WHERE id = 1")
    s.execute("UPDATE profiles SET props = props + {'x': '9', 'z': '3'} WHERE id = 1")
    assert(collRow(s)._3 === Map("x" -> "9", "y" -> "2", "z" -> "3"))
    s.execute("UPDATE profiles SET props = props - {'y'} WHERE id = 1")
    assert(collRow(s)._3 === Map("x" -> "9", "z" -> "3"))
  }

  test("collection ops resolve in TIMESTAMP order, not arrival order") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, events) VALUES (1, [1]) USING TIMESTAMP 10")
    // arrives first but is timestamped AFTER the append below
    s.execute("UPDATE profiles USING TIMESTAMP 30 SET events = events - [2] WHERE id = 1")
    s.execute("UPDATE profiles USING TIMESTAMP 20 SET events = events + [2, 3] WHERE id = 1")
    assert(collRow(s)._1 === Seq(1L, 3L), "append at ts=20 lands before discard at ts=30")
    // a later full SET wipes earlier ops
    s.execute("UPDATE profiles USING TIMESTAMP 40 SET events = [7] WHERE id = 1")
    assert(collRow(s)._1 === Seq(7L))
  }

  test("emptied collections read back as null (Cassandra behavior)") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, tags) VALUES (1, {'a'})")
    s.execute("UPDATE profiles SET tags = tags - {'a'} WHERE id = 1")
    assert(collRow(s)._2 === null)
  }

  // -- INSERT JSON ----------------------------------------------------------

  test("INSERT JSON round-trips through SELECT JSON") {
    val s = freshSession
    s.execute("""INSERT INTO users JSON '{"user_id": 1, "name": "ada", "age": 36}'""")
    assert(rows(s) === Seq((1L, Some("ada"), Some(36L))))
    val js = s.execute("SELECT JSON user_id, name, age FROM users WHERE user_id = 1")
      .head().getString(0)
    assert(js === """{"user_id":1,"name":"ada","age":36}""")
  }

  test("INSERT JSON DEFAULT UNSET leaves omitted cells untouched") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    s.execute("""INSERT INTO users JSON '{"user_id": 1, "name": "grace"}' DEFAULT UNSET""")
    assert(rows(s) === Seq((1L, Some("grace"), Some(36L))))
  }

  test("INSERT JSON DEFAULT NULL tombstones omitted and explicitly-null cells") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    // age omitted, name explicit null — DEFAULT NULL nulls BOTH
    s.execute("""INSERT INTO users JSON '{"user_id": 1, "name": null}' DEFAULT NULL""")
    assert(rows(s) === Seq((1L, None, None)),
      "DEFAULT NULL behaves like an INSERT listing every column")
  }

  test("malformed INSERT JSON is rejected") {
    val s = freshSession
    val e = intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO users JSON 'not json'")
    }
    assert(e.getMessage.contains("JSON"))
  }

  // -- static columns -------------------------------------------------------

  private def staticSession = CqlSession.emptyTable(spark, "bills",
    StructType(Seq(
      StructField("account", LongType),
      StructField("item", LongType),
      StructField("amount", LongType),
      StructField("balance", LongType))), // static: one per account
    partitionKeys = Seq("account"), clusteringKeys = Seq("item"),
    staticKeys = Seq("balance"))

  test("a static cell write is visible on every row of the partition") {
    val s = staticSession
    s.execute("INSERT INTO bills (account, item, amount) VALUES (1, 1, 10)")
    s.execute("INSERT INTO bills (account, item, amount) VALUES (1, 2, 20)")
    // static write addresses the partition only — no clustering key needed
    s.execute("UPDATE bills SET balance = 30 WHERE account = 1")
    val out = s.execute("SELECT item, amount, balance FROM bills WHERE account = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 10L, 30L), (2L, 20L, 30L)))
  }

  test("static cells are latest-wins across rows and survive row tombstones") {
    val s = staticSession
    s.execute("INSERT INTO bills (account, item, amount, balance) VALUES (1, 1, 10, 5) USING TIMESTAMP 10")
    s.execute("INSERT INTO bills (account, item, amount, balance) VALUES (1, 2, 20, 8) USING TIMESTAMP 20")
    def balances = s.execute("SELECT item, balance FROM bills WHERE account = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(balances === Set((1L, 8L), (2L, 8L)), "latest static write wins partition-wide")
    s.execute("DELETE FROM bills USING TIMESTAMP 30 WHERE account = 1 AND item = 2")
    assert(balances === Set((1L, 8L)),
      "row tombstone removes the row but not the partition's static cell")
  }

  // -- counters -------------------------------------------------------------

  test("counter columns merge as the sum of increments, in any order") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE hits (page text PRIMARY KEY, views counter, clicks counter)")
    s.execute("UPDATE hits SET views = views + 5 WHERE page = 'home'")
    s.execute("UPDATE hits SET views = views + 3, clicks = clicks + 1 WHERE page = 'home'")
    s.execute("UPDATE hits SET views = views - 2 WHERE page = 'home'")
    s.execute("UPDATE hits SET views = views + 7 WHERE page = 'about'")
    val out = s.execute("SELECT page, views, clicks FROM hits ALLOW FILTERING")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(out === Set(("home", 6L, Some(1L)), ("about", 7L, None)))
    // counter delta as a bind marker (`views = views + ?`): the op
    // resolves by the COLUMN type after binding
    val inc = s.prepare("UPDATE hits SET views = views + ? WHERE page = ?")
    inc.execute(10L, "home")
    val dec = s.prepare("UPDATE hits SET views = views - ? WHERE page = ?")
    dec.execute(4L, "home")
    assert(s.execute("SELECT views FROM hits WHERE page = 'home'")
      .head().getLong(0) === 12L)
  }

  test("counter ops lex without spaces: SET views=views-2 parses as a decrement") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE hits3 (page text PRIMARY KEY, views counter)")
    s.execute("UPDATE hits3 SET views=views+5 WHERE page='x'")
    s.execute("UPDATE hits3 SET views=views-2 WHERE page='x'")
    assert(s.execute("SELECT views FROM hits3 WHERE page = 'x'").head().getLong(0) === 3L)
  }

  test("BEGIN COUNTER BATCH applies increments; mixing kinds is rejected") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE hits4 (page text PRIMARY KEY, views counter)")
    s.execute("CREATE TABLE notes (id bigint PRIMARY KEY, v text)")
    s.execute(
      """BEGIN COUNTER BATCH
        |  UPDATE hits4 SET views = views + 5 WHERE page = 'home';
        |  UPDATE hits4 SET views = views + 2 WHERE page = 'home';
        |APPLY BATCH""".stripMargin)
    assert(s.execute("SELECT views FROM hits4 WHERE page = 'home'")
      .head().getLong(0) === 7L)
    // upstream BatchStatement.verifyBatchType: no mixing in either direction
    assert(intercept[CqlInvalidQueryException] {
      s.execute(
        """BEGIN COUNTER BATCH
          |  INSERT INTO notes (id, v) VALUES (1, 'x');
          |APPLY BATCH""".stripMargin)
    }.getMessage.contains("non-counter statement in a counter batch"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute(
        """BEGIN BATCH
          |  UPDATE hits4 SET views = views + 1 WHERE page = 'home';
          |APPLY BATCH""".stripMargin)
    }.getMessage.contains("counter statement in a logged batch"))
    // kind is per TARGET TABLE (upstream metadata().isCounter): a DELETE
    // on a counter table is a counter mutation and belongs in the batch
    s.execute(
      """BEGIN COUNTER BATCH
        |  DELETE FROM hits4 WHERE page = 'home';
        |APPLY BATCH""".stripMargin)
    assert(s.execute("SELECT page, views FROM hits4 ALLOW FILTERING")
      .collect().isEmpty)
  }

  test("pure-counter UNLOGGED batches apply; counter timestamps are server-side") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE hits5 (page text PRIMARY KEY, views counter)")
    s.execute("CREATE TABLE notes5 (id bigint PRIMARY KEY, v text)")
    // upstream verifyBatchType: only LOGGED batches reject counters — a
    // pure-counter UNLOGGED batch is valid CQL
    s.execute(
      """BEGIN UNLOGGED BATCH
        |  UPDATE hits5 SET views = views + 3 WHERE page = 'home';
        |  UPDATE hits5 SET views = views + 4 WHERE page = 'home';
        |APPLY BATCH""".stripMargin)
    assert(s.execute("SELECT views FROM hits5 WHERE page = 'home'")
      .head().getLong(0) === 7L)
    // but never mixed with regular mutations
    assert(intercept[CqlInvalidQueryException] {
      s.execute(
        """BEGIN UNLOGGED BATCH
          |  UPDATE hits5 SET views = views + 1 WHERE page = 'home';
          |  INSERT INTO notes5 (id, v) VALUES (1, 'x');
          |APPLY BATCH""".stripMargin)
    }.getMessage.contains("cannot exist in the same batch"))
    // and counter writes take server timestamps only
    assert(intercept[CqlInvalidQueryException] {
      s.execute(
        """BEGIN COUNTER BATCH USING TIMESTAMP 123
          |  UPDATE hits5 SET views = views + 1 WHERE page = 'home';
          |APPLY BATCH""".stripMargin)
    }.getMessage.contains("custom timestamp for counter"))
  }

  test("ALTER TABLE DROP rejects columns a materialized view depends on") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE base_mv (pk bigint, ck bigint, a text, b text, " +
      "PRIMARY KEY (pk, ck))")
    s.execute("CREATE MATERIALIZED VIEW mv_on_a AS SELECT pk, ck, a " +
      "FROM base_mv WHERE pk IS NOT NULL AND ck IS NOT NULL AND " +
      "a IS NOT NULL PRIMARY KEY (a, pk, ck)")
    // selected / keyed column: rejected up front (upstream), instead of
    // poisoning every later statement when the MV recompiles
    assert(intercept[CqlInvalidQueryException] {
      s.execute("ALTER TABLE base_mv DROP a")
    }.getMessage.contains("mv_on_a depends on it"))
    // an un-referenced column still drops, and the session stays healthy
    s.execute("ALTER TABLE base_mv DROP b")
    s.execute("INSERT INTO base_mv (pk, ck, a) VALUES (1, 1, 'x')")
    assert(s.execute("SELECT a FROM mv_on_a WHERE a = 'x'").count() === 1)
    // after the view is gone the drop succeeds
    s.execute("DROP MATERIALIZED VIEW mv_on_a")
    s.execute("ALTER TABLE base_mv DROP a")
  }

  test("CREATE MATERIALIZED VIEW rejects aggregating or reshaping selects") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE base_mv2 (pk bigint, ck bigint, v bigint, " +
      "PRIMARY KEY (pk, ck))")
    for (bad <- Seq(
        "SELECT pk, count(*) FROM base_mv2 WHERE pk IS NOT NULL " +
          "GROUP BY pk",
        "SELECT DISTINCT pk FROM base_mv2 WHERE pk IS NOT NULL",
        "SELECT pk, ck FROM base_mv2 WHERE pk IS NOT NULL AND " +
          "ck IS NOT NULL LIMIT 5"))
      assert(intercept[CqlInvalidQueryException] {
        s.execute(s"CREATE MATERIALIZED VIEW bad_mv AS $bad " +
          "PRIMARY KEY (pk, ck)")
      }.getMessage.contains("only plain column selections"))
  }

  test("COPY TO / COPY FROM round-trip a table through CSV part files") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cp (pk bigint, ck bigint, v text, " +
      "tags list<text>, PRIMARY KEY (pk, ck))")
    s.execute("INSERT INTO cp (pk, ck, v, tags) VALUES (1, 1, 'a', ['x','y'])")
    s.execute("INSERT INTO cp (pk, ck, v, tags) VALUES (1, 2, 'b', ['z'])")
    s.execute("INSERT INTO cp (pk, ck, v) VALUES (2, 1, 'c')")
    val dir = java.nio.file.Files.createTempDirectory("graft-copy")
      .toString + "/out"
    assert(s.execute(s"COPY cp TO '$dir'").head().getLong(0) === 3L)
    s.execute("CREATE TABLE cp2 (pk bigint, ck bigint, v text, " +
      "tags list<text>, PRIMARY KEY (pk, ck))")
    assert(s.execute(s"COPY cp2 FROM '$dir'").head().getLong(0) === 3L)
    val a = s.execute("SELECT pk, ck, v, tags FROM cp2 WHERE pk = 1 AND ck = 1")
      .head()
    assert(a.getString(2) === "a" &&
      a.getSeq[String](3) === Seq("x", "y"), "collections bridge via JSON")
    // loaded rows are ordinary INSERTs: upserts reconcile over them
    s.execute("UPDATE cp2 SET v = 'a2' WHERE pk = 1 AND ck = 1")
    assert(s.execute("SELECT v FROM cp2 WHERE pk = 1 AND ck = 1")
      .head().getString(0) === "a2")
    assert(intercept[CqlInvalidQueryException] { // pk must be in the column set
      s.execute(s"COPY cp2 (v) FROM '$dir'")
    }.getMessage.contains("requires primary key"))
    s.execute("CREATE TABLE cpc (page text PRIMARY KEY, views counter)")
    assert(intercept[CqlInvalidQueryException] {
      s.execute(s"COPY cpc TO '$dir'")
    }.getMessage.contains("counter"))
  }

  test("system_schema registries: indexes, views, types, functions, aggregates") {
    val s = CqlSession(spark)
    s.execute("CREATE TYPE pt (x int, y int)")
    s.execute("CREATE TABLE reg_t (pk bigint PRIMARY KEY, v text, " +
      "loc frozen<pt>)")
    s.execute("CREATE INDEX reg_idx ON reg_t (v) USING 'sai'")
    s.execute("CREATE MATERIALIZED VIEW reg_mv AS SELECT pk, v FROM reg_t " +
      "WHERE pk IS NOT NULL AND v IS NOT NULL PRIMARY KEY (v, pk)")
    s.execute("CREATE FUNCTION reg_fn (x double) CALLED ON NULL INPUT " +
      "RETURNS double LANGUAGE java AS 'return x + 1;'")
    s.execute("CREATE FUNCTION reg_sf (st bigint, x bigint) " +
      "CALLED ON NULL INPUT RETURNS bigint LANGUAGE java " +
      "AS 'return st + x;'")
    s.execute("CREATE AGGREGATE reg_agg (bigint) SFUNC reg_sf STYPE bigint " +
      "INITCOND 0")
    val idx = s.execute("SELECT table_name, kind, options FROM " +
      "system_schema.indexes WHERE keyspace_name = 'default' " +
      "AND table_name = 'reg_t' AND index_name = 'reg_idx'").head()
    assert(idx.getString(1) === "CUSTOM")
    // upstream schema parity: target is options['target'], not a column
    assert(idx.getMap[String, String](2)("target") === "v")
    assert(!idx.schema.fieldNames.contains("target"))
    assert(s.execute("SELECT base_table_name FROM system_schema.views " +
      "WHERE keyspace_name = 'default' AND view_name = 'reg_mv'")
      .head().getString(0) === "reg_t")
    assert(s.execute("SELECT field_names FROM system_schema.types " +
      "WHERE keyspace_name = 'default' AND type_name = 'pt'")
      .head().getString(0) === "x,y")
    val fn = s.execute("SELECT argument_types, return_type, language, " +
      "called_on_null_input FROM system_schema.functions WHERE " +
      "keyspace_name = 'default' AND function_name = 'reg_fn'").head()
    assert(fn.getString(0) === "double" && fn.getString(1) === "double" &&
      fn.getString(2) === "java" && fn.getBoolean(3))
    val ag = s.execute("SELECT state_func, state_type, initcond FROM " +
      "system_schema.aggregates WHERE keyspace_name = 'default' " +
      "AND aggregate_name = 'reg_agg'").head()
    assert(ag.getString(0) === "reg_sf" && ag.getString(1) === "bigint" &&
      ag.getString(2) === "0")
    // the cqlsh listing forms route through the same virtual tables
    assert(s.execute("DESCRIBE TYPES").collect()
      .map(_.getString(1)).contains("pt"))
    assert(s.execute("DESCRIBE FUNCTIONS").collect()
      .map(_.getString(1)).toSet === Set("reg_fn", "reg_sf"))
    assert(s.execute("DESCRIBE AGGREGATES").collect()
      .map(_.getString(1)) === Array("reg_agg"))
  }

  test("counter mutations reject client timestamps, as upstream") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE hits6 (page text PRIMARY KEY, views counter)")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("UPDATE hits6 USING TIMESTAMP 5 SET views = views + 1 " +
        "WHERE page = 'x'")
    }.getMessage.contains("custom timestamp for counter"))
  }

  test("duration columns: literal forms round-trip; ordering uses rejected") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE dur_t (pk bigint PRIMARY KEY, d duration)")
    s.execute("INSERT INTO dur_t (pk, d) VALUES (1, 1mo2d3h)")
    s.execute("INSERT INTO dur_t (pk, d) VALUES (2, P1Y2M3DT4H5M6S)")
    s.execute("INSERT INTO dur_t (pk, d) VALUES (3, 12h30m)")
    s.execute("INSERT INTO dur_t (pk, d) VALUES (4, -1h)")
    def dur(pk: Long) = s.execute(s"SELECT d FROM dur_t WHERE pk = $pk")
      .head().getStruct(0)
    assert((dur(1).getInt(0), dur(1).getInt(1), dur(1).getLong(2)) ===
      ((1, 2, 3L * 3600L * 1000000000L)))
    assert((dur(2).getInt(0), dur(2).getInt(1), dur(2).getLong(2)) ===
      ((14, 3, (4L * 3600 + 5 * 60 + 6) * 1000000000L)))
    assert(dur(4).getLong(2) === -3600000000000L)
    // equality works (durations compare for equality, never for order)
    assert(s.execute(
      "SELECT pk FROM dur_t WHERE d = 12h30m ALLOW FILTERING")
      .head().getLong(0) === 3L)
    assert(intercept[CqlInvalidQueryException] {
      s.execute("SELECT pk FROM dur_t WHERE d > 1h ALLOW FILTERING")
    }.getMessage.contains("Slice restrictions"))
    // not allowed anywhere in the primary key
    for (bad <- Seq(
        "CREATE TABLE dbad (pk duration PRIMARY KEY, v text)",
        "CREATE TABLE dbad (pk bigint, c duration, v text, " +
          "PRIMARY KEY (pk, c))"))
      assert(intercept[CqlInvalidQueryException] { s.execute(bad) }
        .getMessage.contains("duration type is not supported"))
    // DESCRIBE round-trips the type name
    val ddl = s.execute("DESCRIBE TABLE dur_t").head()
      .getAs[String]("create_statement")
    assert(ddl.contains("d duration"))
    s.execute("DROP TABLE dur_t")
    s.execute(ddl)
    assert(s.execute("SELECT type FROM system_schema.columns WHERE " +
      "keyspace_name = 'default' AND table_name = 'dur_t' " +
      "AND column_name = 'd'").head().getString(0) === "duration")
    // overflow rejects instead of wrapping
    assert(intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO dur_t (pk, d) VALUES (5, 9999999999999h)")
    }.getMessage.contains("overflows"))
  }

  test("CREATE FUNCTION / CREATE AGGREGATE bind and run in SELECT") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE sales (cat text, id bigint, amt double, " +
      "w double, PRIMARY KEY (cat, id))")
    (1L to 4L).foreach(i => s.execute("INSERT INTO sales (cat, id, amt, w) " +
      s"VALUES ('a', $i, ${i * 1.0}, ${i * 0.5})"))
    s.execute("INSERT INTO sales (cat, id, amt, w) VALUES ('b', 1, 10.0, 1.0)")
    // scalar function with a Java return-expression body
    s.execute("CREATE FUNCTION double_it (x double) CALLED ON NULL INPUT " +
      "RETURNS double LANGUAGE java AS 'return x * 2;'")
    assert(s.execute("SELECT double_it(amt) AS d2 FROM sales " +
      "WHERE cat = 'a' AND id = 2").head().getDouble(0) === 4.0)
    // UDA: fold + final function + INITCOND (root-sum-of-squares)
    s.execute("CREATE FUNCTION ssq_state (st double, x double) " +
      "CALLED ON NULL INPUT RETURNS double LANGUAGE java " +
      "AS 'return st + x * x;'")
    s.execute("CREATE FUNCTION ssq_final (st double) CALLED ON NULL INPUT " +
      "RETURNS double LANGUAGE java AS 'return sqrt(st);'")
    s.execute("CREATE AGGREGATE ssq (double) SFUNC ssq_state STYPE double " +
      "FINALFUNC ssq_final INITCOND 0")
    val grouped = s.execute(
      "SELECT cat, ssq(amt) AS r FROM sales GROUP BY cat")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(grouped("a") - math.sqrt(30.0)) < 1e-9 &&
      math.abs(grouped("b") - 10.0) < 1e-9)
    // a global (no GROUP BY) UDA aggregates the whole selection
    assert(math.abs(s.execute("SELECT ssq(amt) AS r FROM sales")
      .head().getDouble(0) - math.sqrt(130.0)) < 1e-9)
    // multi-argument aggregate (weighted sum)
    s.execute("CREATE FUNCTION wsum_state (st double, x double, wt double) " +
      "CALLED ON NULL INPUT RETURNS double LANGUAGE java " +
      "AS 'return st + x * wt;'")
    s.execute("CREATE AGGREGATE wsum (double, double) SFUNC wsum_state " +
      "STYPE double INITCOND 0")
    assert(math.abs(s.execute("SELECT wsum(amt, w) AS r FROM sales " +
      "WHERE cat = 'a'").head().getDouble(0) - 15.0) < 1e-9)
    // ——— rejections ———
    assert(intercept[CqlInvalidQueryException] { // duplicate without REPLACE
      s.execute("CREATE FUNCTION double_it (x double) CALLED ON NULL INPUT " +
        "RETURNS double LANGUAGE java AS 'return x * 2;'")
    }.getMessage.contains("already exists"))
    s.execute("CREATE OR REPLACE FUNCTION double_it (x double) " + // replace ok
      "CALLED ON NULL INPUT RETURNS double LANGUAGE java AS 'return x * 3;'")
    assert(s.execute("SELECT double_it(amt) AS d3 FROM sales " +
      "WHERE cat = 'b' AND id = 1").head().getDouble(0) === 30.0)
    assert(intercept[CqlInvalidQueryException] { // unknown argument type
      s.execute("CREATE FUNCTION badty (x frobnicate) CALLED ON NULL INPUT " +
        "RETURNS double LANGUAGE java AS 'return x;'")
    }.getMessage.contains("unknown type"))
    assert(intercept[CqlInvalidQueryException] { // undeclared name in body
      s.execute("CREATE FUNCTION badref (x double) CALLED ON NULL INPUT " +
        "RETURNS double LANGUAGE java AS 'return x + y;'")
    }.getMessage.contains("undeclared argument"))
    assert(intercept[CqlInvalidQueryException] { // native names are reserved
      s.execute("CREATE FUNCTION sum (x double) CALLED ON NULL INPUT " +
        "RETURNS double LANGUAGE java AS 'return x;'")
    }.getMessage.contains("native function"))
    assert(intercept[CqlInvalidQueryException] { // sfunc signature mismatch
      s.execute("CREATE AGGREGATE badagg (text) SFUNC ssq_state " +
        "STYPE double")
    }.getMessage.contains("must take"))
    assert(intercept[CqlInvalidQueryException] { // unknown sfunc
      s.execute("CREATE AGGREGATE badagg2 (double) SFUNC nope STYPE double")
    }.getMessage.contains("unknown state function"))
    assert(intercept[CqlInvalidQueryException] { // referenced fn can't drop
      s.execute("DROP FUNCTION ssq_state")
    }.getMessage.contains("still referenced"))
    assert(intercept[CqlInvalidQueryException] { // referenced fn keeps shape
      s.execute("CREATE OR REPLACE FUNCTION ssq_state (st text, x text) " +
        "CALLED ON NULL INPUT RETURNS text LANGUAGE java AS 'return st;'")
    }.getMessage.contains("cannot change the signature"))
    // same-signature replace of a referenced function is fine
    s.execute("CREATE OR REPLACE FUNCTION ssq_state (st double, x double) " +
      "CALLED ON NULL INPUT RETURNS double LANGUAGE java " +
      "AS 'return st + x * x;'")
    s.execute("DROP AGGREGATE ssq")
    s.execute("DROP FUNCTION ssq_final")
    s.execute("DROP FUNCTION ssq_state") // unreferenced now: drops fine
    assert(intercept[CqlInvalidQueryException] { // and the UDA is gone
      s.execute("SELECT cat, ssq(amt) AS r FROM sales GROUP BY cat")
    }.getMessage.contains("unknown function"))
  }

  test("DESCRIBE emits round-trippable DDL; system_schema lists the catalog") {
    val s = CqlSession(spark)
    s.execute("CREATE TYPE addr (street text, zip int)")
    s.execute("CREATE TABLE desc_t (pk1 bigint, pk2 text, ck1 bigint, " +
      "ck2 bigint, st text static, tags list<text>, props map<text, bigint>, " +
      "home frozen<addr>, PRIMARY KEY ((pk1, pk2), ck1, ck2)) " +
      "WITH CLUSTERING ORDER BY (ck1 ASC, ck2 DESC) " +
      "AND default_time_to_live = 120")
    def catalogRows() = s.execute(
      "SELECT column_name, kind, position, clustering_order, type " +
        "FROM system_schema.columns WHERE keyspace_name = 'default' " +
        "AND table_name = 'desc_t'")
      .collect().toSeq.sortBy(_.getString(0))
    val cols0 = catalogRows()
    assert(cols0.size === 8, "every registered column is listed")
    val byName = cols0.map(r => r.getString(0) -> r).toMap
    assert(byName("pk1").getString(1) === "partition_key" &&
      byName("pk1").getInt(2) === 0 && byName("pk2").getInt(2) === 1)
    assert(byName("ck2").getString(1) === "clustering" &&
      byName("ck2").getString(3) === "desc")
    assert(byName("st").getString(1) === "static" &&
      byName("st").getInt(2) === -1)
    assert(byName("tags").getString(4) === "list<text>" &&
      byName("props").getString(4) === "map<text, bigint>" &&
      byName("home").getString(4) === "frozen<addr>")
    // DESCRIBE TABLE → create_statement → re-execute → equivalent table
    val d = s.execute("DESCRIBE TABLE desc_t").head()
    assert(d.getAs[String]("type") === "table" &&
      d.getAs[String]("name") === "desc_t")
    val ddl = d.getAs[String]("create_statement")
    val tyDdl = s.execute("DESCRIBE TYPE addr").head()
      .getAs[String]("create_statement")
    s.execute("DROP TABLE desc_t")
    s.execute("DROP TYPE addr")
    s.execute(tyDdl)
    s.execute(ddl)
    assert(catalogRows() === cols0, "re-executed DDL reproduces the catalog")
    assert(s.execute("DESCRIBE TABLE desc_t").head()
      .getAs[String]("create_statement") === ddl, "DESCRIBE is a fixpoint")
    // behavior round-trips too: the DESC clustering order drives reads
    s.execute("INSERT INTO desc_t (pk1, pk2, ck1, ck2) VALUES (1, 'a', 1, 1)")
    s.execute("INSERT INTO desc_t (pk1, pk2, ck1, ck2) VALUES (1, 'a', 1, 2)")
    assert(s.execute("SELECT ck2 FROM desc_t WHERE pk1 = 1 AND pk2 = 'a' " +
      "PER PARTITION LIMIT 1").head().getLong(0) === 2L,
      "re-created table keeps ck2 DESC (newest first)")
    // keyspace + table registries are queryable
    assert(s.execute("DESCRIBE KEYSPACES").collect().map(_.getString(0))
      .contains("system_schema"))
    val trow = s.execute("SELECT table_name, default_time_to_live " +
      "FROM system_schema.tables WHERE keyspace_name = 'default' " +
      "AND table_name = 'desc_t'").head()
    assert(trow.getLong(1) === 120L)
    // counter columns describe as counter
    s.execute("CREATE TABLE desc_cnt (page text PRIMARY KEY, views counter)")
    assert(s.execute("DESC desc_cnt").head()
      .getAs[String]("create_statement").contains("views counter"))
    // the virtual keyspaces are read-only
    for (hax <- Seq("system_schema.hax", "system.hax"))
      assert(intercept[CqlInvalidQueryException] {
        s.execute(s"CREATE TABLE $hax (pk bigint PRIMARY KEY)")
      }.getMessage.contains("not user-modifiable"))
    // the driver-handshake tables answer (one local node, no peers)
    val local = s.execute("SELECT key, partitioner, release_version " +
      "FROM system.local WHERE key = 'local'").head()
    assert(local.getString(1).endsWith("Murmur3Partitioner"))
    assert(s.execute("SELECT peer FROM system.peers").count() === 0L)
  }

  test("system.size_estimates reports live partition counts per table") {
    val s = freshSession
    (1L to 4L).foreach(i => (0L to 1L).foreach(_ =>
      s.execute(s"INSERT INTO users (user_id, name) VALUES ($i, 'u$i')")))
    val r = s.execute("SELECT table_name, range_start, range_end, " +
        "partitions_count, mean_partition_size FROM system.size_estimates " +
        "WHERE keyspace_name = 'default' AND table_name = 'users'").head()
    assert(r.getString(1) === Long.MinValue.toString &&
      r.getString(2) === Long.MinValue.toString)
    assert(r.getLong(3) === 4L) // 4 partitions (upserts collapse)
    assert(r.getLong(4) >= 0L)
    // a delete refreshes the estimate (engine rebuilds per mutation epoch)
    s.execute("DELETE FROM users WHERE user_id = 4")
    assert(s.execute("SELECT partitions_count FROM system.size_estimates " +
        "WHERE keyspace_name = 'default' AND table_name = 'users'")
      .head().getLong(0) === 3L)
  }

  test("negative literals parse everywhere; bad numerics raise CqlInvalidQueryException") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'neg', -5) USING TIMESTAMP -1")
    assert(rows(s) === Seq((1L, Some("neg"), Some(-5L))))
    intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO users (user_id, age) VALUES (1, 99999999999999999999)")
    }
  }

  test("tinyint and smallint columns accept integer literals") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tiny (id bigint PRIMARY KEY, b tinyint, s smallint)")
    s.execute("INSERT INTO tiny (id, b, s) VALUES (1, -7, 300)")
    val r = s.execute("SELECT b, s FROM tiny WHERE id = 1").head()
    assert(r.getByte(0) === (-7: Byte) && r.getShort(1) === (300: Short))
  }

  test("counter guards: INSERT and plain SET are rejected; non-counter += n is rejected") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE hits2 (page text PRIMARY KEY, views counter, note text)")
    intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO hits2 (page, views) VALUES ('x', 1)")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE hits2 SET views = 5 WHERE page = 'x'")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE hits2 SET note = note + 1 WHERE page = 'x'")
    }
  }

  // -- cell deletes ---------------------------------------------------------

  test("DELETE col FROM kills one cell; the row and its other cells survive") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    s.execute("DELETE name FROM users WHERE user_id = 1")
    assert(rows(s) === Seq((1L, None, Some(36L))))
  }

  test("cell tombstone wins ties and shadows only older writes (zombie rule per cell)") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'old') USING TIMESTAMP 10")
    s.execute("DELETE name FROM users USING TIMESTAMP 10 WHERE user_id = 1")
    assert(rows(s).head._2 === None, "equal-timestamp delete wins over the write")
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'newer') USING TIMESTAMP 11")
    assert(rows(s).head._2 === Some("newer"), "newer write survives the cell tombstone")
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'zombie') USING TIMESTAMP 5")
    assert(rows(s).head._2 === Some("newer"), "older write stays dead")
  }

  test("DELETE of a collection cell nulls just that collection") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, events, tags) VALUES (1, [1, 2], {'a'})")
    s.execute("DELETE events FROM profiles WHERE id = 1")
    val (ev, tags, _) = collRow(s)
    assert(ev === null && tags === Seq("a"))
  }

  test("collection element ops: l[i] = v, DELETE l[i], DELETE m['k']") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, events, tags, props) " +
      "VALUES (1, [10, 20, 30], {'x'}, {'a': '1', 'b': '2'})")
    s.execute("UPDATE profiles SET events[1] = 99 WHERE id = 1")
    s.execute("DELETE events[0] FROM profiles WHERE id = 1")
    s.execute("DELETE props['a'] FROM profiles WHERE id = 1")
    val (ev, tags, props) = collRow(s)
    assert(ev === Seq(99L, 30L), "index set then index delete, in ts order")
    assert(tags === Seq("x"))
    assert(props === Map("b" -> "2"))
    // out-of-range index set is a fold-time no-op (facade deviation:
    // upstream validates against the read-before-write list)
    s.execute("UPDATE profiles SET events[9] = 1 WHERE id = 1")
    assert(collRow(s)._1 === Seq(99L, 30L))
  }

  test("row-marker rule: INSERTed rows outlive all-cell deletes, UPDATE-only rows do not") {
    val a = freshSession
    a.execute("INSERT INTO users (user_id, name) VALUES (1, 'x')")
    a.execute("DELETE name FROM users WHERE user_id = 1")
    assert(rows(a) === Seq((1L, None, None)),
      "INSERT's row marker keeps the emptied row alive")
    val b = freshSession
    b.execute("UPDATE users SET name = 'x' WHERE user_id = 1")
    b.execute("DELETE name FROM users WHERE user_id = 1")
    assert(rows(b).isEmpty,
      "an UPDATE-only row vanishes when its last cell dies")
  }

  test("DELETE of a PRIMARY KEY column is rejected") {
    val s = freshSession
    intercept[CqlInvalidQueryException] {
      s.execute("DELETE user_id FROM users WHERE user_id = 1")
    }
  }

  // -- prepared statements --------------------------------------------------

  test("prepared INSERT/SELECT: parse once, bind per execution in text order") {
    val s = freshSession
    val ins = s.prepare("INSERT INTO users (user_id, name, age) VALUES (?, ?, ?)")
    ins.execute(1L, "ada", 36L)
    ins.execute(2L, "grace", 45L)
    val sel = s.prepare("SELECT user_id, name FROM users WHERE user_id = ?")
    assert(sel.execute(2L).collect().map(_.getString(1)).toSeq === Seq("grace"))
    assert(sel.execute(1L).collect().map(_.getString(1)).toSeq === Seq("ada"))
  }

  test("system.prepared_statements counts a PREPARE with no write between") {
    val s = freshSession
    s.prepare("SELECT name FROM users WHERE user_id = ?")
    def count() = s.execute("SELECT count(*) FROM system.prepared_statements")
      .head().getLong(0)
    val n = count()
    s.prepare("SELECT age FROM users WHERE user_id = ?")
    assert(count() === n + 1)
  }

  test("prepared UPDATE binds assignments before predicates; collections bind inside literals") {
    val s = collSession
    s.execute("INSERT INTO profiles (id, events, tags) VALUES (1, [1], {'a'})")
    val up = s.prepare("UPDATE profiles SET events = events + [?], tags = tags + {?} WHERE id = ?")
    up.execute(7L, "b", 1L)
    val (ev, tags, _) = collRow(s)
    assert(ev === Seq(1L, 7L) && tags === Seq("a", "b"))
  }

  test("prepared statements validate bind arity both ways") {
    val s = freshSession
    val p = s.prepare("SELECT name FROM users WHERE user_id = ?")
    intercept[CqlInvalidQueryException] { p.execute() }
    intercept[CqlInvalidQueryException] { p.execute(1L, 2L) }
    intercept[CqlInvalidQueryException] { s.prepare("CREATE TABLE nope (x bigint PRIMARY KEY)") }
  }

  test("named markers bind by name; repeats share one variable") {
    val s = freshSession
    val ins = s.prepare(
      "INSERT INTO users (user_id, name, age) VALUES (:id, :name, :age)")
    ins.executeNamed(Map("id" -> 1L, "name" -> "ada", "age" -> 36L))
    // positional execute assigns markers in first-appearance order
    ins.execute(2L, "grace", 45L)
    val sel = s.prepare("SELECT name FROM users WHERE user_id = :id")
    assert(sel.executeNamed(Map("id" -> 2L))
      .collect().map(_.getString(0)).toSeq === Seq("grace"))
    // a repeated name is ONE variable: one bind value feeds both bounds
    val band = s.prepare(
      "SELECT user_id FROM users WHERE user_id >= :v AND user_id <= :v " +
        "ALLOW FILTERING")
    assert(band.execute(1L).collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(band.executeNamed(Map("v" -> 2L))
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // missing / unknown names are rejected; so is binding ? by name
    intercept[CqlInvalidQueryException] { sel.executeNamed(Map.empty) }
    intercept[CqlInvalidQueryException] {
      sel.executeNamed(Map("id" -> 1L, "nope" -> 2L))
    }
    val pos = s.prepare("SELECT name FROM users WHERE user_id = ?")
    intercept[CqlInvalidQueryException] { pos.executeNamed(Map("id" -> 1L)) }
  }

  test("LIMIT and PER PARTITION LIMIT accept bind markers") {
    val s = freshSession
    (1L to 5L).foreach(i =>
      s.execute(s"INSERT INTO users (user_id, name, age) VALUES ($i, 'u$i', $i)"))
    val p = s.prepare("SELECT user_id FROM users LIMIT ?")
    assert(p.execute(2L).count() === 2L)
    assert(p.execute(5L).count() === 5L)
    val n = s.prepare("SELECT user_id FROM users LIMIT :n")
    assert(n.executeNamed(Map("n" -> 3L)).count() === 3L)
    // bound limits still validate positivity; unprepared markers reject
    intercept[CqlInvalidQueryException] { p.execute(0L) }
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT user_id FROM users LIMIT ?")
    }
  }

  test("USING TTL and TIMESTAMP accept bind markers") {
    val s = freshSession
    // INSERT binds values first, USING last (text order)
    val ins = s.prepare(
      "INSERT INTO users (user_id, name, age) VALUES (?, ?, ?) " +
        "USING TIMESTAMP ?")
    ins.execute(1L, "ada", 36L, 5000L)
    assert(s.execute("SELECT writetime(name) AS wt FROM users WHERE user_id = 1")
      .collect().head.getLong(0) === 5000L)
    // UPDATE's USING leads the statement, so its marker binds FIRST
    val up = s.prepare(
      "UPDATE users USING TIMESTAMP ? SET name = ? WHERE user_id = ?")
    up.execute(9000L, "lovelace", 1L)
    assert(s.execute("SELECT name, writetime(name) AS wt FROM users " +
        "WHERE user_id = 1").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq === Seq(("lovelace", 9000L)))
    // a named-bound TTL drives real cell expiry; negative rejects
    val ttlIns = s.prepare(
      "INSERT INTO users (user_id, name) VALUES (:id, :n) " +
        "USING TIMESTAMP :ts AND TTL :t")
    ttlIns.executeNamed(
      Map("id" -> 2L, "n" -> "fading", "ts" -> 1000000000L, "t" -> 60L))
    def nameAt(nowUs: Long) = s.view("users", Some(nowUs))
      .filter(col("user_id") === 2L).collect().map(r => Option(r.getString(1)))
    assert(nameAt(1030L * 1000000).toSeq === Seq(Some("fading")))
    // the row's only cell expired → the row itself vanishes
    assert(nameAt(1061L * 1000000).isEmpty)
    intercept[CqlInvalidQueryException] {
      ttlIns.executeNamed(
        Map("id" -> 3L, "n" -> "x", "ts" -> 1000000000L, "t" -> -5L))
    }
    // an unbound USING marker in a raw execute is a clear rejection
    intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO users (user_id, name, age) VALUES (7, 'q', 1) " +
        "USING TIMESTAMP ?")
    }
  }

  test("prepared BATCH binds across statements in order, one shared timestamp") {
    val s = freshSession
    val batch = s.prepare(
      "BEGIN BATCH " +
        "INSERT INTO users (user_id, name) VALUES (?, ?); " +
        "UPDATE users SET age = ? WHERE user_id = ?; " +
      "APPLY BATCH")
    batch.execute(1L, "ada", 36L, 1L)
    batch.execute(2L, "grace", 45L, 2L)
    assert(rows(s) === Seq((1L, Some("ada"), Some(36L))))
    val wts = s.execute(
      "SELECT writetime(name) AS wn, writetime(age) AS wa FROM users WHERE user_id = 1").head()
    assert(wts.getLong(0) === wts.getLong(1), "batch statements share one timestamp")
  }

  test("prepared LWT: IF condition binds after the write's values") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'ada')")
    val cas = s.prepare("UPDATE users SET name = ? WHERE user_id = ? IF name = ?")
    assert(!cas.execute("x", 1L, "WRONG").head().getBoolean(0))
    assert(cas.execute("grace", 1L, "ada").head().getBoolean(0))
    assert(rows(s).head._2 === Some("grace"))
  }

  // -- partition tombstones -------------------------------------------------

  private def clusteredSession = {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE series (pk bigint, ck bigint, v text, PRIMARY KEY (pk, ck))")
    s
  }

  test("DELETE by partition key alone tombstones the whole partition") {
    val s = clusteredSession
    s.execute("INSERT INTO series (pk, ck, v) VALUES (1, 1, 'a')")
    s.execute("INSERT INTO series (pk, ck, v) VALUES (1, 2, 'b')")
    s.execute("INSERT INTO series (pk, ck, v) VALUES (2, 1, 'c')")
    s.execute("DELETE FROM series WHERE pk = 1")
    val left = s.execute("SELECT pk, ck, v FROM series ALLOW FILTERING")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(left === Set((2L, 1L, "c")), "partition 1 is gone, partition 2 intact")
  }

  test("partition tombstone shadows only OLDER writes (zombie rule)") {
    val s = clusteredSession
    s.execute("INSERT INTO series (pk, ck, v) VALUES (1, 1, 'old') USING TIMESTAMP 10")
    s.execute("INSERT INTO series (pk, ck, v) VALUES (1, 2, 'newer') USING TIMESTAMP 30")
    s.execute("DELETE FROM series USING TIMESTAMP 20 WHERE pk = 1")
    val left = s.execute("SELECT ck, v FROM series WHERE pk = 1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left === Set((2L, "newer")),
      "a write stamped after the partition delete survives it")
  }

  test("partition delete on a static table kills rows AND the static cell") {
    val s = staticSession
    s.execute("INSERT INTO bills (account, item, amount, balance) VALUES (1, 1, 10, 5)")
    s.execute("INSERT INTO bills (account, item, amount) VALUES (1, 2, 20)")
    s.execute("DELETE FROM bills WHERE account = 1")
    assert(s.execute("SELECT item FROM bills WHERE account = 1").collect().isEmpty,
      "previously this DELETE was a silent no-op on static tables")
    // the partition is re-writable after the tombstone
    s.execute("INSERT INTO bills (account, item, amount) VALUES (1, 3, 30)")
    val back = s.execute("SELECT item, amount, balance FROM bills WHERE account = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(back === Seq((3L, 30L, None)), "static cell did not zombie back")
  }

  test("range tombstone: a clustering-prefix DELETE drops the slice, not the partition") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rt (pk bigint, c1 text, c2 bigint, v text, " +
      "PRIMARY KEY (pk, c1, c2))")
    Seq(("a", 1L, "a1"), ("a", 2L, "a2"), ("b", 1L, "b1")).foreach { case (c1, c2, v) =>
      s.execute(s"INSERT INTO rt (pk, c1, c2, v) VALUES (1, '$c1', $c2, '$v')")
    }
    s.execute("DELETE FROM rt WHERE pk = 1 AND c1 = 'a'")
    def vs = s.execute("SELECT v FROM rt WHERE pk = 1 ORDER BY c1, c2")
      .collect().map(_.getString(0)).toSeq
    assert(vs === Seq("b1"), "the 'a' slice is gone, 'b' survives")
    // a write stamped after the range tombstone survives it (zombie rule)
    s.execute("INSERT INTO rt (pk, c1, c2, v) VALUES (1, 'a', 3, 'a3')")
    assert(vs === Seq("a3", "b1"))
  }

  test("range tombstones at different prefix depths compose with partition deletes") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rt2 (pk bigint, c1 bigint, c2 bigint, v bigint, " +
      "PRIMARY KEY (pk, c1, c2))")
    s.execute("INSERT INTO rt2 (pk, c1, c2, v) VALUES (1, 1, 1, 10) USING TIMESTAMP 10")
    s.execute("INSERT INTO rt2 (pk, c1, c2, v) VALUES (1, 2, 1, 20) USING TIMESTAMP 10")
    s.execute("DELETE FROM rt2 USING TIMESTAMP 20 WHERE pk = 1 AND c1 = 1") // range
    s.execute("INSERT INTO rt2 (pk, c1, c2, v) VALUES (1, 1, 2, 11) USING TIMESTAMP 30")
    s.execute("DELETE FROM rt2 USING TIMESTAMP 25 WHERE pk = 1")            // partition
    val left = s.execute("SELECT c1, c2, v FROM rt2 WHERE pk = 1 ORDER BY c1, c2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(left === Seq((1L, 2L, 11L)),
      "t=30 write outlives BOTH the t=20 range and t=25 partition tombstones")
  }

  test("gapped clustering restriction on DELETE is rejected") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rt3 (pk bigint, c1 bigint, c2 bigint, v bigint, " +
      "PRIMARY KEY (pk, c1, c2))")
    val e = intercept[CqlInvalidQueryException] {
      s.execute("DELETE FROM rt3 WHERE pk = 1 AND c2 = 5")
    }
    assert(e.getMessage.contains("c1"))
  }

  test("range tombstones do NOT shadow static cells; partition tombstones do") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rs (pk bigint, ck bigint, v bigint, st bigint STATIC, " +
      "PRIMARY KEY (pk, ck))")
    s.execute("INSERT INTO rs (pk, ck, v, st) VALUES (1, 1, 10, 99)")
    s.execute("DELETE FROM rs WHERE pk = 1 AND ck = 1") // row delete (full key)
    val afterRow = s.execute("SELECT st FROM rs WHERE pk = 1").collect()
    assert(afterRow.map(_.getLong(0)).toSeq === Seq(99L),
      "static survives the row delete (phantom static row)")
    s.execute("DELETE FROM rs WHERE pk = 1")
    assert(s.execute("SELECT st FROM rs WHERE pk = 1").collect().isEmpty,
      "partition delete kills the static cell")
  }

  test("SELECT JSON keeps explicit nulls — the phantom static row shape") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rj (pk bigint, ck bigint, v bigint, st bigint STATIC, " +
      "PRIMARY KEY (pk, ck))")
    s.execute("INSERT INTO rj (pk, ck, v, st) VALUES (1, 1, 10, 99)")
    s.execute("DELETE FROM rj WHERE pk = 1 AND ck = 1")
    // the partition now answers with ONE phantom row: null ck/v, live static;
    // upstream SELECT JSON serializes those nulls explicitly (Json.java [U])
    val js = s.execute("SELECT JSON pk, ck, v, st FROM rj WHERE pk = 1")
      .head().getString(0)
    assert(js === """{"pk":1,"ck":null,"v":null,"st":99}""", js)
  }

  test("a write that provides no cells still needs the full primary key") {
    val s = staticSession
    intercept[CqlInvalidQueryException] { // bare-marker INSERT addresses a ROW
      s.execute("INSERT INTO bills (account) VALUES (1)")
    }
  }

  // -- LWT (conditional writes, single-writer CAS) --------------------------

  test("INSERT IF NOT EXISTS applies once; the losing write reports [applied]=false") {
    val s = freshSession
    val r1 = s.execute("INSERT INTO users (user_id, name) VALUES (1, 'first') IF NOT EXISTS")
    assert(r1.columns.toSeq === Seq("[applied]") && r1.head().getBoolean(0))
    val r2 = s.execute("INSERT INTO users (user_id, name) VALUES (1, 'second') IF NOT EXISTS")
    assert(!r2.head().getBoolean(0))
    assert(rows(s).head._2 === Some("first"), "losing insert must not mutate")
  }

  test("UPDATE IF col = v is a CAS: applies only when the read value matches") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    val miss = s.execute("UPDATE users SET age = 99 WHERE user_id = 1 IF name = 'grace'")
    assert(!miss.head().getBoolean(0))
    assert(rows(s).head._3 === Some(36L))
    val hit = s.execute("UPDATE users SET age = 99 WHERE user_id = 1 IF name = 'ada' AND age >= 30")
    assert(hit.head().getBoolean(0))
    assert(rows(s).head._3 === Some(99L))
  }

  test("DELETE IF EXISTS only fires on a live row") {
    val s = freshSession
    val miss = s.execute("DELETE FROM users WHERE user_id = 1 IF EXISTS")
    assert(!miss.head().getBoolean(0))
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'x')")
    val hit = s.execute("DELETE FROM users WHERE user_id = 1 IF EXISTS")
    assert(hit.head().getBoolean(0))
    assert(rows(s).isEmpty)
  }

  test("CAS batch is all-or-nothing against the pre-batch state") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'a')")
    val r = s.execute("BEGIN BATCH " +
      "UPDATE users SET age = 10 WHERE user_id = 1 IF name = 'WRONG'; " +
      "INSERT INTO users (user_id, name) VALUES (2, 'b'); " +
      "APPLY BATCH")
    assert(!r.head().getBoolean(0), "failed condition rejects the whole batch")
    assert(s.execute("SELECT count(*) AS n FROM users ALLOW FILTERING")
      .head().getLong(0) === 1L, "unconditional statement must not apply either")
    val ok = s.execute("BEGIN BATCH " +
      "UPDATE users SET age = 10 WHERE user_id = 1 IF name = 'a'; " +
      "INSERT INTO users (user_id, name) VALUES (2, 'b'); " +
      "APPLY BATCH")
    assert(ok.head().getBoolean(0))
    assert(s.execute("SELECT count(*) AS n FROM users ALLOW FILTERING")
      .head().getLong(0) === 2L)
  }

  // -- DDL ------------------------------------------------------------------

  test("CREATE TABLE through CQL text: full data-model round trip") {
    val s = CqlSession(spark)
    // qualified creates target a DECLARED keyspace (r9 — keyspace-scoped
    // registry: bare names thereafter resolve via USE)
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE TABLE nope_ks.t (k bigint PRIMARY KEY)")
    }
    s.execute("CREATE KEYSPACE ks1 WITH replication = " +
      "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    s.execute("USE ks1")
    s.execute("""CREATE TABLE ks1.readings (
      sensor bigint,
      at bigint,
      unit text STATIC,
      value double,
      tags set<text>,
      meta map<text, text>,
      PRIMARY KEY ((sensor), at)
    ) WITH CLUSTERING ORDER BY (at ASC)""")
    s.execute("INSERT INTO readings (sensor, at, value, tags) VALUES (1, 10, 2.5, {'a'})")
    s.execute("INSERT INTO readings (sensor, at, value) VALUES (1, 20, 3.5)")
    s.execute("UPDATE readings SET unit = 'C' WHERE sensor = 1")
    val out = s.execute(
      "SELECT at, value, unit FROM readings WHERE sensor = 1 ORDER BY at")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(out === Seq((10L, 2.5, "C"), (20L, 3.5, "C")),
      "clustering rows with the static unit visible on both")
  }

  test("CREATE TABLE guards: duplicate, IF NOT EXISTS, unknown key column") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE t1 (id bigint PRIMARY KEY, v text)")
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE TABLE t1 (id bigint PRIMARY KEY, v text)")
    }
    s.execute("CREATE TABLE IF NOT EXISTS t1 (id bigint PRIMARY KEY, v text)")
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE TABLE t2 (id bigint, v text, PRIMARY KEY (nope))")
    }
  }

  test("TRUNCATE clears data; DROP TABLE removes the table") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE t3 (id bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO t3 (id, v) VALUES (1, 'x')")
    s.execute("TRUNCATE t3")
    assert(s.execute("SELECT count(*) AS n FROM t3 ALLOW FILTERING")
      .head().getLong(0) === 0L)
    s.execute("DROP TABLE t3")
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT * FROM t3")
    }
    s.execute("DROP TABLE IF EXISTS t3") // no-op, no error
  }

  test("ALTER TABLE ADD: new column reads null on old rows, then writes") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE t4 (id bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO t4 (id, v) VALUES (1, 'old')")
    s.execute("ALTER TABLE t4 ADD score double, note text")
    val r0 = s.execute("SELECT id, v, score, note FROM t4 WHERE id = 1").head()
    assert(r0.getString(1) === "old" && r0.isNullAt(2) && r0.isNullAt(3))
    s.execute("UPDATE t4 SET score = 1.5 WHERE id = 1")
    assert(s.execute("SELECT score FROM t4 WHERE id = 1").head().getDouble(0) === 1.5)
  }

  test("ALTER TABLE DROP discards the column and its data; keys are protected") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE t5 (id bigint PRIMARY KEY, v text, w text)")
    s.execute("INSERT INTO t5 (id, v, w) VALUES (1, 'keep', 'gone')")
    s.execute("ALTER TABLE t5 DROP w")
    val out = s.execute("SELECT * FROM t5 WHERE id = 1")
    assert(out.columns.toSeq === Seq("id", "v"))
    assert(out.head().getString(1) === "keep")
    intercept[CqlInvalidQueryException] { s.execute("ALTER TABLE t5 DROP id") }
  }

  test("vector SAI similarity_function: euclidean reranks ANN, invalid " +
    "functions and non-vector columns reject, DESCRIBE renders OPTIONS") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE simv (id bigint PRIMARY KEY, " +
      "emb vector<float, 2>, note text)")
    intercept[CqlInvalidQueryException] { // unknown function name
      s.execute("CREATE CUSTOM INDEX ON simv (emb) USING " +
        "'StorageAttachedIndex' WITH OPTIONS = " +
        "{'similarity_function': 'manhattan'}")
    }
    intercept[CqlInvalidQueryException] { // only valid on vector columns
      s.execute("CREATE CUSTOM INDEX ON simv (note) USING " +
        "'StorageAttachedIndex' WITH OPTIONS = " +
        "{'similarity_function': 'cosine'}")
    }
    s.execute("CREATE CUSTOM INDEX simv_ann ON simv (emb) USING " +
      "'StorageAttachedIndex' WITH OPTIONS = " +
      "{'similarity_function': 'euclidean'}")
    s.execute("INSERT INTO simv (id, emb) VALUES (1, [10.0, 0.0])")
    s.execute("INSERT INTO simv (id, emb) VALUES (2, [1.0, 0.1])")
    // euclidean: id 2 is NEAREST to [1,0] even though id 1 has the same
    // cosine direction
    val got = s.execute(
      "SELECT id FROM simv ORDER BY emb ANN OF [1.0, 0.0] LIMIT 2")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 1L))
    val ddl = s.execute("DESCRIBE simv_ann").collect()
      .map(_.getAs[String]("create_statement")).mkString("\n")
    assert(ddl.contains("'similarity_function': 'euclidean'"), ddl)
    // DROP INDEX restores the cosine default
    s.execute("DROP INDEX simv_ann")
    s.execute("CREATE CUSTOM INDEX simv_ann2 ON simv (emb) USING " +
      "'StorageAttachedIndex'")
    val cos = s.execute(
      "SELECT id FROM simv ORDER BY emb ANN OF [1.0, 0.0] LIMIT 2")
      .collect().map(_.getLong(0)).toSeq
    assert(cos === Seq(1L, 2L)) // |v1| direction exactly matches, wins cosine
  }

  test("vector<float, n> columns create as array<float> and ANN-query") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE vecs (id bigint PRIMARY KEY, emb vector<float, 4>)")
    // upstream: ANN demands a vector SAI index — unindexed is an error
    val eIdx = intercept[CqlInvalidQueryException] {
      s.execute("SELECT id FROM vecs ORDER BY emb ANN OF [1.0, 0.0, 0.0, " +
        "0.0] LIMIT 2")
    }
    assert(eIdx.getMessage.contains("indexed"))
    s.execute("CREATE CUSTOM INDEX vecs_ann ON vecs (emb) " +
      "USING 'StorageAttachedIndex'")
    s.execute("INSERT INTO vecs (id, emb) VALUES (1, [1.0, 0.0, 0.0, 0.0])")
    s.execute("INSERT INTO vecs (id, emb) VALUES (2, [0.0, 1.0, 0.0, 0.0])")
    s.execute("INSERT INTO vecs (id, emb) VALUES (3, [0.9, 0.1, 0.0, 0.0])")
    val got = s.execute(
      "SELECT id FROM vecs ORDER BY emb ANN OF [1.0, 0.0, 0.0, 0.0] LIMIT 2")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 3L))
  }

  test("vector dimension is declared state: wrong-length literals are " +
    "rejected, collection ops are rejected, DESCRIBE round-trips the dim") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE vdim (id bigint PRIMARY KEY, " +
      "emb vector<float, 3>, tags list<text>)")
    // exact dimension writes fine — via INSERT and UPDATE
    s.execute("INSERT INTO vdim (id, emb) VALUES (1, [1.0, 2.0, 3.0])")
    s.execute("UPDATE vdim SET emb = [4.0, 5.0, 6.0] WHERE id = 1")
    // wrong length rejected on both paths (upstream VectorType validate)
    val e1 = intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO vdim (id, emb) VALUES (2, [1.0, 2.0])")
    }
    assert(e1.getMessage.contains("expected 3 elements"))
    val e2 = intercept[CqlInvalidQueryException] {
      s.execute("UPDATE vdim SET emb = [1.0, 2.0, 3.0, 4.0] WHERE id = 1")
    }
    assert(e2.getMessage.contains("expected 3 elements"))
    // vectors are NOT collections: += is rejected; the list column isn't
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE vdim SET emb = emb + [7.0] WHERE id = 1")
    }
    s.execute("UPDATE vdim SET tags = tags + ['ok'] WHERE id = 1")
    // prepared binds enforce the dim too
    val p = s.prepare("INSERT INTO vdim (id, emb) VALUES (?, ?)")
    p.execute(3L, Seq(1.0, 2.0, 3.0))
    intercept[CqlInvalidQueryException] { p.execute(4L, Seq(1.0)) }
    // DESCRIBE emits the real vector type, and the emitted DDL re-executes
    val ddl = s.execute("DESCRIBE TABLE vdim").head().getString(3)
    assert(ddl.contains("emb vector<float, 3>"), ddl)
    val s2 = CqlSession(spark)
    s2.execute(ddl)
    intercept[CqlInvalidQueryException] {
      s2.execute("INSERT INTO vdim (id, emb) VALUES (1, [1.0])")
    }
    // ALTER ADD carries the dim as well
    s.execute("ALTER TABLE vdim ADD emb2 vector<float, 2>")
    intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO vdim (id, emb2) VALUES (9, [1.0, 2.0, 3.0])")
    }
    // nested vectors do NOT bind the column dim (list<vector<…>> is a
    // list; its own writes stay list-shaped)
    s.execute("CREATE TABLE vnest (id bigint PRIMARY KEY, " +
      "vs list<frozen<vector<float, 2>>>)")
    s.execute("INSERT INTO vnest (id, vs) VALUES (1, [[1.0, 2.0]])")
    assert(s.execute("SELECT vs FROM vnest WHERE id = 1").count() === 1)
  }

  test("ANN ties break on the primary key — duplicate embeddings rank deterministically") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE dupvecs (id bigint PRIMARY KEY, emb vector<float, 2>)")
    s.execute("CREATE CUSTOM INDEX dup_ann ON dupvecs (emb) " +
      "USING 'StorageAttachedIndex'")
    // three IDENTICAL embeddings + one distant: top-3 must be id order
    Seq(9L, 4L, 7L).foreach(i =>
      s.execute(s"INSERT INTO dupvecs (id, emb) VALUES ($i, [1.0, 0.0])"))
    s.execute("INSERT INTO dupvecs (id, emb) VALUES (1, [0.0, 1.0])")
    val got = s.execute(
      "SELECT id FROM dupvecs ORDER BY emb ANN OF [1.0, 0.0] LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(4L, 7L, 9L))
  }

  test("executeScript runs a full cqlsh-style script: DDL, DML, BATCH, SELECT") {
    val s = CqlSession(spark)
    val results = s.executeScript("""
      -- data model
      // a slash comment reads as whitespace too
      CREATE TABLE accounts (id bigint PRIMARY KEY, owner text, balance counter);
      INSERT INTO accounts (id, owner) VALUES (1, 'ada; the first'); -- ';' in string
      BEGIN COUNTER BATCH
        UPDATE accounts SET balance = balance + 100 WHERE id = 1;
        UPDATE accounts SET balance = balance + 50 WHERE id = 1;
      APPLY BATCH;
      SELECT owner, balance FROM accounts WHERE id = 1
    """)
    assert(results.length === 4)
    val r = results.last.head()
    assert(r.getString(0) === "ada; the first")
    assert(r.getLong(1) === 150L)
  }

  // -- write-path scale -----------------------------------------------------

  test("500 mutations keep the log plan bounded (buffered rows, one union)") {
    val s = freshSession
    val t0 = System.nanoTime()
    (1 to 500).foreach { i =>
      s.execute(s"INSERT INTO users (user_id, name, age) VALUES ($i, 'u$i', $i)")
    }
    val applied = (System.nanoTime() - t0) / 1e9
    assert(applied < 30.0, s"500 buffered writes took ${applied}s")
    val n = s.execute("SELECT count(*) AS n FROM users ALLOW FILTERING").head().getLong(0)
    assert(n === 500L)
  }

  // -- secondary indexes (2i / SAI) -----------------------------------------

  private def indexedSession = {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    s.execute("INSERT INTO users (user_id, name, age) VALUES (2, 'grace', 45)")
    s.execute("INSERT INTO users (user_id, name, age) VALUES (3, 'edsger', 36)")
    s
  }

  test("CREATE INDEX lifts the ALLOW FILTERING gate for equality") {
    val s = indexedSession
    val e = intercept[CqlInvalidQueryException] {
      s.execute("SELECT user_id FROM users WHERE age = 36")
    }
    assert(e.getMessage.contains("ALLOW FILTERING"))
    s.execute("CREATE INDEX ON users (age)")
    val hits = s.execute("SELECT user_id FROM users WHERE age = 36")
      .collect().map(_.getLong(0)).sorted
    assert(hits === Array(1L, 3L))
  }

  test("legacy 2i serves equality only; SAI additionally serves range") {
    val s = indexedSession
    s.execute("CREATE INDEX ON users (age)") // legacy 2i
    val e = intercept[CqlInvalidQueryException] {
      s.execute("SELECT user_id FROM users WHERE age > 40")
    }
    assert(e.getMessage.contains("ALLOW FILTERING"))
    s.execute("CREATE CUSTOM INDEX name_sai ON users (name) " +
      "USING 'StorageAttachedIndex'")
    assert(s.execute("SELECT user_id FROM users WHERE name > 'e'")
      .collect().map(_.getLong(0)).sorted === Array(2L, 3L))
  }

  test("DESCRIBE TABLE renders attached CREATE INDEX statements after " +
    "the table (cqlsh parity) and the combined dump replays") {
    val s = indexedSession
    s.execute("CREATE INDEX age_idx ON users (age)")
    s.execute("CREATE CUSTOM INDEX name_sai ON users (name) " +
      "USING 'StorageAttachedIndex'")
    val rows = s.execute("DESCRIBE TABLE users").collect()
    // table row FIRST (head()-based consumers), then indexes name-sorted
    assert(rows.map(r => (r.getAs[String]("type"), r.getAs[String]("name")))
      .toSeq === Seq(("table", "users"), ("index", "age_idx"),
        ("index", "name_sai")))
    val stmts = rows.map(_.getAs[String]("create_statement"))
    assert(stmts(1).contains("CREATE INDEX age_idx ON users (age)") ||
      stmts(1).contains("CREATE INDEX age_idx ON default.users"), stmts(1))
    assert(stmts(2).contains("StorageAttachedIndex"), stmts(2))
    // a tool reconstructing schema from DESCRIBE TABLE alone loses nothing:
    // drop and replay the full dump, indexes included
    s.execute("DROP TABLE users")
    stmts.foreach(s.execute(_))
    assert(s.execute("DESCRIBE TABLE users").collect().length === 3)
    s.execute("INSERT INTO users (user_id, name, age) VALUES (9, 'kay', 50)")
    assert(s.execute("SELECT user_id FROM users WHERE age = 50")
      .head().getLong(0) === 9L, "replayed index serves equality")
  }

  test("DROP INDEX restores the filtering rejection") {
    val s = indexedSession
    s.execute("CREATE INDEX age_idx ON users (age) USING 'sai'")
    assert(s.execute("SELECT user_id FROM users WHERE age >= 45")
      .collect().map(_.getLong(0)) === Array(2L))
    s.execute("DROP INDEX age_idx")
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT user_id FROM users WHERE age = 36")
    }
    intercept[CqlInvalidQueryException] { s.execute("DROP INDEX age_idx") }
    s.execute("DROP INDEX IF EXISTS age_idx") // idempotent with IF EXISTS
  }

  test("index DDL guardrails: partition key, unknown column, duplicates") {
    val s = indexedSession
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE INDEX ON users (user_id)")
    }.getMessage.contains("partition key"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE INDEX ON users (salary)")
    }.getMessage.contains("undefined column"))
    s.execute("CREATE INDEX ON users (age)")
    intercept[CqlInvalidQueryException] { s.execute("CREATE INDEX ON users (age)") }
    s.execute("CREATE INDEX IF NOT EXISTS ON users (age)") // no-op
    // dropping the table drops its indexes: recreate and the name is free
    s.execute("DROP TABLE users")
    s.execute("CREATE TABLE users (user_id bigint PRIMARY KEY, age bigint)")
    s.execute("CREATE INDEX users_age_idx ON users (age)")
  }

  private def collectionIndexSession = {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE docs (id bigint PRIMARY KEY, tags set<text>, " +
      "props map<text, bigint>)")
    s.execute(
      "INSERT INTO docs (id, tags, props) VALUES (1, {'ml'}, {'views': 7})")
    s.execute("INSERT INTO docs (id, tags, props) VALUES " +
      "(2, {'db'}, {'views': 9, 'forks': 7})")
    s
  }

  test("collection index targets serve exactly their predicate kind") {
    val s = collectionIndexSession
    // no index: every collection predicate needs ALLOW FILTERING
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT id FROM docs WHERE props CONTAINS KEY 'views'")
    }
    // KEYS(props) serves CONTAINS KEY — and ONLY that
    s.execute("CREATE INDEX props_keys ON docs (KEYS(props))")
    assert(s.execute("SELECT id FROM docs WHERE props CONTAINS KEY 'forks'")
      .collect().map(_.getLong(0)) === Array(2L))
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT id FROM docs WHERE props CONTAINS 9")
    }
    // VALUES(props) sits beside KEYS(props) and lifts CONTAINS (on values)
    s.execute("CREATE INDEX props_vals ON docs (VALUES(props))")
    assert(s.execute("SELECT id FROM docs WHERE props CONTAINS 9")
      .collect().map(_.getLong(0)) === Array(2L))
    assert(s.execute("SELECT id FROM docs WHERE props CONTAINS 7")
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    // …but a SAME-target duplicate is rejected
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE INDEX ON docs (VALUES(props))")
    }
    // a plain index on a collection normalizes to VALUES (upstream
    // IndexTarget.Type.fromCql), and DESCRIBE emits the wrapped form
    s.execute("CREATE INDEX tags_idx ON docs (tags)")
    assert(s.execute("SELECT id FROM docs WHERE tags CONTAINS 'ml'")
      .collect().map(_.getLong(0)) === Array(1L))
    assert(s.execute("DESCRIBE INDEX tags_idx").head()
      .getAs[String]("create_statement").contains("VALUES(tags)"))
    // target/column type mismatches are rejected
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE INDEX ON docs (KEYS(tags))")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE INDEX ON docs (ENTRIES(tags))")
    }
  }

  test("m[k] = v map-entry predicates: ENTRIES index or ALLOW FILTERING") {
    val s = collectionIndexSession
    intercept[CqlInvalidQueryException] { // gate holds without an index
      s.execute("SELECT id FROM docs WHERE props['views'] = 7")
    }
    assert(s.execute(
      "SELECT id FROM docs WHERE props['views'] = 7 ALLOW FILTERING")
      .collect().map(_.getLong(0)) === Array(1L))
    // a missing key never matches (element_at null semantics)
    assert(s.execute(
      "SELECT id FROM docs WHERE props['nope'] = 7 ALLOW FILTERING")
      .collect().isEmpty)
    s.execute("CREATE INDEX props_entries ON docs (ENTRIES(props))")
    assert(s.execute("SELECT id FROM docs WHERE props['forks'] = 7")
      .collect().map(_.getLong(0)) === Array(2L))
    // the ENTRIES index serves ONLY the entry predicate
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT id FROM docs WHERE props CONTAINS KEY 'views'")
    }
    // subscripting a non-map column is rejected, as is any non-EQ relation
    assert(intercept[CqlInvalidQueryException] {
      s.execute("SELECT id FROM docs WHERE tags['x'] = 'y' ALLOW FILTERING")
    }.getMessage.contains("non-map"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("SELECT id FROM docs WHERE props['views'] > 3 ALLOW FILTERING")
    }.getMessage.contains("Only EQ"))
  }

  test("ALTER TABLE RENAME: PRIMARY KEY columns only, dependency-guarded") {
    val s = CqlSession(spark)
    s.execute(
      "CREATE TABLE ts (pk bigint, ck bigint, v text, PRIMARY KEY (pk, ck))")
    s.execute("INSERT INTO ts (pk, ck, v) VALUES (1, 10, 'a')")
    s.execute("ALTER TABLE ts RENAME ck TO seq")
    assert(s.execute("SELECT seq, v FROM ts WHERE pk = 1 AND seq = 10")
      .collect().map(r => (r.getLong(0), r.getString(1))) ===
      Array((10L, "a")))
    intercept[CqlInvalidQueryException] { // the old name is gone
      s.execute("SELECT ck FROM ts WHERE pk = 1")
    }
    // regular columns cannot be renamed (upstream AlterTableStatement)
    assert(intercept[CqlInvalidQueryException] {
      s.execute("ALTER TABLE ts RENAME v TO w")
    }.getMessage.contains("non PRIMARY KEY"))
    intercept[CqlInvalidQueryException] { // collision with a live column
      s.execute("ALTER TABLE ts RENAME seq TO v")
    }
    // an index on the column blocks the rename
    s.execute("CREATE INDEX seq_idx ON ts (seq)")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("ALTER TABLE ts RENAME seq TO ord")
    }.getMessage.contains("index"))
    s.execute("DROP INDEX seq_idx")
    // chained form, and writes keep working against the renamed schema
    s.execute("ALTER TABLE ts RENAME pk TO id AND seq TO ord")
    s.execute("INSERT INTO ts (id, ord, v) VALUES (2, 20, 'b')")
    assert(s.execute("SELECT id, ord, v FROM ts WHERE id = 2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))) ===
      Array((2L, 20L, "b")))
    // DESCRIBE reflects the rename (fixpoint: the DDL names the new keys)
    val ddl = s.execute("DESCRIBE TABLE ts").head()
      .getAs[String]("create_statement")
    assert(ddl.contains("PRIMARY KEY ((id), ord)") ||
      ddl.contains("PRIMARY KEY (id, ord)"))
    // a materialized view pins every key name it references
    s.execute("CREATE MATERIALIZED VIEW ts_mv AS SELECT v, id, ord FROM ts " +
      "WHERE v IS NOT NULL AND id IS NOT NULL AND ord IS NOT NULL " +
      "PRIMARY KEY (v, id, ord)")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("ALTER TABLE ts RENAME ord TO n")
    }.getMessage.contains("materialized view"))
  }

  // -- materialized views (CREATE MATERIALIZED VIEW) ------------------------

  test("MV: reads by the view key without ALLOW FILTERING, tracks base writes") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name, age) VALUES (1, 'ada', 36)")
    s.execute("INSERT INTO users (user_id, name) VALUES (2, 'grace')")
    s.execute("INSERT INTO users (user_id, age) VALUES (3, 50)") // null name
    s.execute("CREATE MATERIALIZED VIEW users_by_name AS " +
      "SELECT * FROM users WHERE name IS NOT NULL AND user_id IS NOT NULL " +
      "PRIMARY KEY (name, user_id)")
    // the view partition key serves point reads — no ALLOW FILTERING needed
    assert(s.execute(
      "SELECT user_id FROM users_by_name WHERE name = 'ada'")
      .head().getLong(0) === 1L)
    // null view-key rows are excluded (the IS NOT NULL definition filter)
    assert(s.execute("SELECT count(*) AS n FROM users_by_name ALLOW FILTERING")
      .head().getLong(0) === 2L)
    // read-time maintenance: a base write is visible immediately
    s.execute("INSERT INTO users (user_id, name) VALUES (4, 'ada')")
    assert(s.execute(
      "SELECT user_id FROM users_by_name WHERE name = 'ada' ALLOW FILTERING")
      .collect().map(_.getLong(0)).sorted === Array(1L, 4L))
    // and a base DELETE disappears from the view
    s.execute("DELETE FROM users WHERE user_id = 1")
    assert(s.execute(
      "SELECT user_id FROM users_by_name WHERE name = 'ada' ALLOW FILTERING")
      .collect().map(_.getLong(0)) === Array(4L))
  }

  test("MV guardrails: key coverage, IS NOT NULL, dependent-table drop") {
    val s = freshSession
    // view key must include the base primary key
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE MATERIALIZED VIEW m1 AS SELECT * FROM users " +
        "WHERE name IS NOT NULL PRIMARY KEY (name)")
    }.getMessage.contains("base primary key column user_id"))
    // at most one non-key column in the view key
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE MATERIALIZED VIEW m2 AS SELECT * FROM users " +
        "WHERE name IS NOT NULL AND age IS NOT NULL AND user_id IS NOT NULL " +
        "PRIMARY KEY (name, age, user_id)")
    }.getMessage.contains("more than one non-primary key column"))
    // every view key column demands IS NOT NULL
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE MATERIALIZED VIEW m3 AS SELECT * FROM users " +
        "WHERE user_id IS NOT NULL PRIMARY KEY (name, user_id)")
    }.getMessage.contains("IS NOT NULL"))
    s.execute("CREATE MATERIALIZED VIEW ok AS SELECT * FROM users " +
      "WHERE name IS NOT NULL AND user_id IS NOT NULL " +
      "PRIMARY KEY (name, user_id)")
    // the base cannot be dropped while the view depends on it
    assert(intercept[CqlInvalidQueryException] { s.execute("DROP TABLE users") }
      .getMessage.contains("still depends"))
    s.execute("DROP MATERIALIZED VIEW ok")
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT * FROM ok ALLOW FILTERING")
    }
    s.execute("DROP TABLE users") // view gone → droppable
  }

  // -- user-defined types (CREATE TYPE → StructType) ------------------------

  test("CREATE TYPE: UDT column round-trips and serves field access") {
    val s = freshSession
    s.execute("CREATE TYPE addr (street text, city text, zip bigint)")
    s.execute("CREATE TABLE homes (id bigint PRIMARY KEY, a frozen<addr>)")
    s.execute("INSERT INTO homes (id, a) VALUES " +
      "(1, {street: '12 Rue Mouffetard', city: 'Paris', zip: 75005})")
    s.execute("INSERT INTO homes (id, a) VALUES (2, {city: 'Oslo'})")
    val r1 = s.execute("SELECT a FROM homes WHERE id = 1").head().getStruct(0)
    assert(r1.getString(1) === "Paris" && r1.getLong(2) === 75005L)
    // field access: omitted fields read null (upstream UDT semantics)
    assert(s.execute("SELECT a.city FROM homes WHERE id = 2")
      .head().getString(0) === "Oslo")
    assert(s.execute("SELECT a.street FROM homes WHERE id = 2")
      .head().isNullAt(0))
  }

  test("frozen UDT cells replace whole (latest-wins on the full value)") {
    val s = freshSession
    s.execute("CREATE TYPE pt (x bigint, y bigint)")
    s.execute("CREATE TABLE geo (id bigint PRIMARY KEY, p frozen<pt>)")
    s.execute("INSERT INTO geo (id, p) VALUES (1, {x: 1, y: 2}) USING TIMESTAMP 10")
    s.execute("UPDATE geo USING TIMESTAMP 20 SET p = {x: 9} WHERE id = 1")
    val p = s.execute("SELECT p FROM geo WHERE id = 1").head().getStruct(0)
    assert(p.getLong(0) === 9L && p.isNullAt(1),
      "frozen value replaces wholesale — y does not merge through")
  }

  test("non-frozen UDT field writes merge per field by timestamp") {
    val s = freshSession
    s.execute("CREATE TYPE addr2 (street text, city text)")
    s.execute("CREATE TABLE homes2 (id bigint PRIMARY KEY, a addr2)")
    s.execute("INSERT INTO homes2 (id, a) VALUES " +
      "(1, {street: 'Main', city: 'Lyon'}) USING TIMESTAMP 10")
    s.execute("UPDATE homes2 USING TIMESTAMP 20 SET a.city = 'Oslo' WHERE id = 1")
    val r1 = s.execute("SELECT a FROM homes2 WHERE id = 1").head().getStruct(0)
    assert(r1.getString(0) === "Main" && r1.getString(1) === "Oslo",
      "newer field write merges into the older whole-cell value")
    // an OLDER field write loses to the newer whole-cell set
    s.execute("UPDATE homes2 USING TIMESTAMP 5 SET a.street = 'Old' WHERE id = 1")
    assert(s.execute("SELECT a FROM homes2 WHERE id = 1")
      .head().getStruct(0).getString(0) === "Main")
    // a field write onto a row with no UDT value creates a sparse cell
    s.execute("UPDATE homes2 USING TIMESTAMP 30 SET a.city = 'Rome' WHERE id = 2")
    val r2 = s.execute("SELECT a FROM homes2 WHERE id = 2").head().getStruct(0)
    assert(r2.isNullAt(0) && r2.getString(1) === "Rome")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("UPDATE homes2 SET a.zipcode = 1 WHERE id = 1")
    }.getMessage.contains("unknown field"))
  }

  test("DELETE u.field nulls one field; ALTER TYPE ADD widens live cells") {
    val s = freshSession
    s.execute("CREATE TYPE contact (email text, phone text)")
    s.execute("CREATE TABLE people (id bigint PRIMARY KEY, c contact)")
    s.execute("INSERT INTO people (id, c) VALUES " +
      "(1, {email: 'a@x.io', phone: '555'}) USING TIMESTAMP 10")
    s.execute("DELETE c.phone FROM people USING TIMESTAMP 20 WHERE id = 1")
    val r = s.execute("SELECT c FROM people WHERE id = 1").head().getStruct(0)
    assert(r.getString(0) === "a@x.io" && r.isNullAt(1))
    // an OLDER field delete loses to the newer value
    s.execute("DELETE c.email FROM people USING TIMESTAMP 5 WHERE id = 1")
    assert(s.execute("SELECT c FROM people WHERE id = 1")
      .head().getStruct(0).getString(0) === "a@x.io")
    // ALTER TYPE ADD: existing cells read the new field as null,
    // and the new field is immediately writable
    s.execute("ALTER TYPE contact ADD fax text")
    val widened = s.execute("SELECT c FROM people WHERE id = 1").head().getStruct(0)
    assert(widened.size === 3 && widened.isNullAt(2))
    s.execute("UPDATE people USING TIMESTAMP 30 SET c.fax = '999' WHERE id = 1")
    val after = s.execute("SELECT c FROM people WHERE id = 1").head().getStruct(0)
    assert(after.getString(0) === "a@x.io" && after.getString(2) === "999")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("ALTER TYPE contact ADD email text")
    }.getMessage.contains("already exists"))
  }

  test("UDT guardrails: unknown field, nested/dependent types, DROP TYPE in use") {
    val s = freshSession
    s.execute("CREATE TYPE inner1 (v text)")
    s.execute("CREATE TYPE outer1 (tag text, i frozen<inner1>, ns list<bigint>)")
    s.execute("CREATE TABLE boxes (id bigint PRIMARY KEY, o frozen<outer1>)")
    s.execute("INSERT INTO boxes (id, o) VALUES " +
      "(1, {tag: 't', i: {v: 'deep'}, ns: [1, 2, 3]})")
    val o = s.execute("SELECT o FROM boxes WHERE id = 1").head().getStruct(0)
    assert(o.getStruct(1).getString(0) === "deep")
    assert(o.getSeq[Long](2) === Seq(1L, 2L, 3L))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO boxes (id, o) VALUES (2, {bogus: 1})")
    }.getMessage.contains("unknown field"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("DROP TYPE outer1")
    }.getMessage.contains("still used by table"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("DROP TYPE inner1")
    }.getMessage.contains("still used"))
    s.execute("DROP TABLE boxes")
    s.execute("DROP TYPE outer1") // table gone → type droppable
    s.execute("DROP TYPE inner1") // outer gone → inner droppable
    intercept[CqlInvalidQueryException] { s.execute("DROP TYPE inner1") }
    s.execute("DROP TYPE IF EXISTS inner1")
  }

  test("WITH CLUSTERING ORDER BY drives the ORDER BY direction rule") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE series (k bigint, ts bigint, v text, " +
      "PRIMARY KEY (k, ts)) WITH CLUSTERING ORDER BY (ts DESC) " +
      "AND comment = 'newest first'")
    (1L to 3L).foreach(i =>
      s.execute(s"INSERT INTO series (k, ts, v) VALUES (1, $i, 'v$i')"))
    // declared order (DESC) and its exact reverse are both allowed
    assert(s.execute("SELECT ts FROM series WHERE k = 1 ORDER BY ts DESC")
      .collect().map(_.getLong(0)).toSeq === Seq(3L, 2L, 1L))
    assert(s.execute("SELECT ts FROM series WHERE k = 1 ORDER BY ts ASC")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // mixed-direction ORDER BY against a 2-ck declared mix
    s.execute("CREATE TABLE series2 (k bigint, a bigint, b bigint, v text, " +
      "PRIMARY KEY (k, a, b)) WITH CLUSTERING ORDER BY (a ASC, b DESC)")
    s.execute("INSERT INTO series2 (k, a, b, v) VALUES (1, 1, 1, 'x')")
    s.execute("SELECT a, b FROM series2 WHERE k = 1 ORDER BY a ASC, b DESC")
    s.execute("SELECT a, b FROM series2 WHERE k = 1 ORDER BY a DESC, b ASC")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("SELECT a, b FROM series2 WHERE k = 1 ORDER BY a ASC, b ASC")
    }.getMessage.contains("CLUSTERING ORDER"))
    // prefix rule: ordering must start at the first clustering column
    assert(intercept[CqlInvalidQueryException] {
      s.execute("SELECT a, b FROM series2 WHERE k = 1 ORDER BY b DESC")
    }.getMessage.contains("declared order"))
    // CLUSTERING ORDER must name every clustering column in order
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE TABLE bad (k bigint, a bigint, b bigint, " +
        "PRIMARY KEY (k, a, b)) WITH CLUSTERING ORDER BY (b DESC)")
    }.getMessage.contains("CLUSTERING ORDER BY must list"))
    // without ORDER BY a partition reads in its DECLARED order, and LIMIT
    // keeps the first rows of that order — on the driver fold and on the
    // Spark view, for localOnly and for file-backed tables
    s.execute("CREATE TABLE newest (k bigint, ts bigint, v text, " +
      "PRIMARY KEY (k, ts)) WITH CLUSTERING ORDER BY (ts DESC)")
    Seq(3L, 1L, 5L, 2L, 4L).foreach(i =>
      s.execute(s"INSERT INTO newest (k, ts, v) VALUES (1, $i, 'v$i')"))
    s.execute("INSERT INTO series2 (k, a, b, v) VALUES (1, 1, 3, 'y')")
    s.execute("INSERT INTO series2 (k, a, b, v) VALUES (1, 0, 2, 'z')")
    def onBothPaths(want: Seq[Long], wantTop2: Seq[Long],
        wantMixed: Seq[(Long, Long)]): Unit =
      for (view <- Seq(false, true)) {
        s.forceSparkRead = view
        assert(s.execute("SELECT ts FROM newest WHERE k = 1").collect()
          .map(_.getLong(0)).toSeq === want, s"Spark view: $view")
        assert(s.execute("SELECT ts FROM newest WHERE k = 1 LIMIT 2")
          .collect().map(_.getLong(0)).toSeq === wantTop2)
        assert(s.execute("SELECT a, b FROM series2 WHERE k = 1").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq === wantMixed)
        s.forceSparkRead = false
      }
    val mixed = Seq((0L, 2L), (1L, 3L), (1L, 1L))
    onBothPaths(Seq(5L, 4L, 3L, 2L, 1L), Seq(5L, 4L), mixed)
    s.exposeAsCatalog("ordcat") // a catalog bulk load: file-backed tables
    spark.sql("INSERT INTO ordcat.default.newest VALUES (1, 6, 'v6')")
    spark.sql("INSERT INTO ordcat.default.series2 VALUES (1, 1, 2, 'w')")
    onBothPaths(Seq(6L, 5L, 4L, 3L, 2L, 1L), Seq(6L, 5L),
      Seq((0L, 2L), (1L, 3L), (1L, 2L), (1L, 1L)))
  }

  test("default_time_to_live applies to writes without USING TTL") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE ephem (id bigint PRIMARY KEY, v text) " +
      "WITH default_time_to_live = 60 AND gc_grace_seconds = 864000")
    s.execute("INSERT INTO ephem (id, v) VALUES (1, 'fades') " +
      "USING TIMESTAMP 1000000000")
    s.execute("INSERT INTO ephem (id, v) VALUES (2, 'stays') " +
      "USING TIMESTAMP 1000000000 AND TTL 100000")
    def at(nowUs: Long) = s.view("ephem", Some(nowUs))
      .collect().map(_.getLong(0)).toSet
    assert(at(1030000000L) === Set(1L, 2L), "both live before expiry")
    assert(at(1070000000L) === Set(2L),
      "the default-TTL write expires at 60s; the explicit TTL overrides")
    // upstream Attributes.getTimeToLive: `USING TTL 0` CANCELS the table
    // default — the row must never expire (not expire instantly)
    s.execute("INSERT INTO ephem (id, v) VALUES (3, 'forever') " +
      "USING TIMESTAMP 1000000000 AND TTL 0")
    assert(at(9999999999000000L).contains(3L),
      "TTL 0 means no TTL, overriding default_time_to_live")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO ephem (id, v) VALUES (4, 'bad') USING TTL -5")
    }.getMessage.contains("greater than or equal to 0"))
  }

  test("nested-map collection types read and mutate (JSON tie-break fallback)") {
    val s = CqlSession(spark)
    // list<frozen<map<..>>> is NOT natively orderable — the reconcile
    // comparator must fall back to canonical JSON, not fail analysis
    s.execute("CREATE TABLE cfg (id bigint PRIMARY KEY, " +
      "entries list<frozen<map<text, bigint>>>)")
    s.execute("INSERT INTO cfg (id, entries) VALUES (1, [{'a': 1}]) " +
      "USING TIMESTAMP 10")
    s.execute("UPDATE cfg USING TIMESTAMP 20 SET entries = entries + " +
      "[{'b': 2}] WHERE id = 1")
    val got = s.execute("SELECT entries FROM cfg WHERE id = 1")
      .head().getSeq[Map[String, Long]](0)
    assert(got === Seq(Map("a" -> 1L), Map("b" -> 2L)))
  }

  test("schema-dump prelude: CREATE KEYSPACE / USE / qualified names run") {
    val s = freshSession
    // the first lines of any real `cqlsh -e 'DESCRIBE SCHEMA'` dump
    val out = s.executeScript(
      """CREATE KEYSPACE shop WITH replication =
        |  {'class': 'SimpleStrategy', 'replication_factor': 1}
        |  AND durable_writes = true;
        |USE shop;
        |CREATE TABLE shop.carts (id bigint PRIMARY KEY, total bigint);
        |INSERT INTO shop.carts (id, total) VALUES (1, 30);
        |SELECT id, total FROM carts;""".stripMargin)
    assert(out.last.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 30L)))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("USE nope")
    }.getMessage.contains("unknown keyspace"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("USE")
    }.getMessage.contains("syntax error"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("USE shop extra")
    }.getMessage.contains("syntax error"))
    // DESCRIBE-dump table options: bare keywords (COMPACT STORAGE),
    // multi-token values (ID = uuid), scientific notation — all parse
    s.execute("CREATE TABLE legacy (k bigint PRIMARY KEY, v text) " +
      "WITH COMPACT STORAGE AND ID = 5a6c6f30-29b0-11e6-ae22-56b6b6499611 " +
      "AND bloom_filter_fp_chance = 0.01 AND comment = 'it''s legacy' " +
      "AND compaction = {'class': 'SizeTieredCompactionStrategy'} " +
      "AND crc_check_chance = 1.0")
    s.execute("INSERT INTO legacy (k, v) VALUES (1, 'x')")
    assert(s.execute("SELECT v FROM legacy WHERE k = 1")
      .head().getString(0) === "x")
    // the WITH clause is grammar-mandatory and replication the
    // mandatory option, as upstream (r9)
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE KEYSPACE shop")
    }.getMessage.contains("WITH"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE KEYSPACE shop2 WITH durable_writes = true")
    }.getMessage.contains("replication"))
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE KEYSPACE shop WITH replication = " +
        "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    }.getMessage.contains("already exists"))
    // an unknown strategy class is rejected even under IF NOT EXISTS
    assert(intercept[CqlInvalidQueryException] {
      s.execute("CREATE KEYSPACE IF NOT EXISTS shop WITH replication = " +
        "{'class': 'BogusStrategy'}")
    }.getMessage.contains("BogusStrategy"))
    s.execute("CREATE KEYSPACE IF NOT EXISTS shop WITH replication = " +
      "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    // the declared topology is schema state: system_schema.keyspaces
    // serves it and ALTER KEYSPACE updates it
    val meta = s.execute("SELECT keyspace_name, durable_writes, " +
      "replication FROM system_schema.keyspaces WHERE keyspace_name = " +
      "'shop'").head()
    assert(meta.getBoolean(1) === true)
    assert(meta.getMap[String, String](2).get("replication_factor")
      .contains("1"))
    s.execute("ALTER KEYSPACE shop WITH replication = " +
      "{'class': 'NetworkTopologyStrategy', 'dc1': 3, 'dc2': 2} " +
      "AND durable_writes = false")
    val meta2 = s.execute("SELECT keyspace_name, durable_writes, " +
      "replication FROM system_schema.keyspaces WHERE keyspace_name = " +
      "'shop'").head()
    assert(meta2.getBoolean(1) === false)
    val m2 = meta2.getMap[String, String](2)
    assert(m2.get("dc1").contains("3") && m2.get("dc2").contains("2"))
    assert(m2.get("class").exists(_.endsWith("NetworkTopologyStrategy")))
    // DESCRIBE re-renders the stored topology round-trippably
    val ddl = s.execute("DESCRIBE ONLY KEYSPACE shop").head().getString(3)
    assert(ddl.contains("'class': 'NetworkTopologyStrategy'"))
    assert(ddl.contains("'dc1': '3'") && ddl.contains("durable_writes = false"))
    s.execute("USE system") // system keyspaces preexist
    s.execute("DROP KEYSPACE shop")
    intercept[CqlInvalidQueryException] { s.execute("DROP KEYSPACE shop") }
    s.execute("DROP KEYSPACE IF EXISTS shop")
  }

  test("SET c = null writes a tombstone — the old value must not resurrect") {
    val s = freshSession
    s.execute("INSERT INTO users (user_id, name) VALUES (1, 'a') " +
      "USING TIMESTAMP 10")
    s.execute("UPDATE users USING TIMESTAMP 20 SET name = null WHERE user_id = 1")
    assert(rows(s) === Seq((1L, None, None)),
      "explicit null overwrites (upstream Constants.Deleter)")
    // and an OLDER null write loses to the newer value
    s.execute("UPDATE users USING TIMESTAMP 5 SET age = null WHERE user_id = 1")
    s.execute("UPDATE users USING TIMESTAMP 6 SET age = 36 WHERE user_id = 1")
    assert(rows(s) === Seq((1L, None, Some(36L))))
  }

  test("INSERT JSON: explicit null overwrites even under DEFAULT UNSET") {
    val s = freshSession
    s.execute("""INSERT INTO users JSON '{"user_id": 1, "name": "a", "age": 3}'""")
    s.execute("""INSERT INTO users JSON '{"user_id": 1, "name": null}' DEFAULT UNSET""")
    assert(rows(s) === Seq((1L, None, Some(3L))),
      "name (explicit null) nulls out; age (omitted) survives under UNSET")
    // an uncoercible value is an invalid request (upstream 'Unable to
    // make bigint from …'), NEVER a silent tombstone
    assert(intercept[CqlInvalidQueryException] {
      s.execute("""INSERT INTO users JSON '{"user_id": 1, "age": "abc"}'""")
    }.getMessage.contains("invalid JSON value"))
    assert(rows(s) === Seq((1L, None, Some(3L))), "age untouched by the error")
  }

  test("BATCH-level USING TTL is rejected, per-statement TTLs apply") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE bt (id bigint PRIMARY KEY, v text)")
    // upstream Cql.g: global TTL on BATCH is a hard error
    assert(intercept[CqlInvalidQueryException] {
      s.execute(
        """BEGIN BATCH USING TIMESTAMP 1000000000 AND TTL 60
          |  INSERT INTO bt (id, v) VALUES (1, 'x');
          |APPLY BATCH""".stripMargin)
    }.getMessage.contains("Global TTL"))
    // DELETE grammar likewise admits only TIMESTAMP in its USING clause
    assert(intercept[CqlInvalidQueryException] {
      s.execute("DELETE FROM bt USING TTL 60 WHERE id = 1")
    }.getMessage.contains("TTL is not supported on DELETE"))
    s.execute(
      """BEGIN BATCH USING TIMESTAMP 1000000000
        |  INSERT INTO bt (id, v) VALUES (1, 'fades') USING TTL 60;
        |  INSERT INTO bt (id, v) VALUES (2, 'stays');
        |APPLY BATCH""".stripMargin)
    def at(nowUs: Long) = s.view("bt", Some(nowUs))
      .collect().map(_.getLong(0)).toSet
    assert(at(1030000000L) === Set(1L, 2L))
    assert(at(1070000000L) === Set(2L), "statement TTL expired row 1 at 60s")
  }

  test("timestamp literals: zone offsets and epoch millis coerce") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tsf (id bigint PRIMARY KEY, t timestamp)")
    s.execute("INSERT INTO tsf (id, t) VALUES (1, '2011-02-03T04:05:00+0000')")
    s.execute("INSERT INTO tsf (id, t) VALUES (2, '2011-02-03 04:05+00:00')")
    s.execute("INSERT INTO tsf (id, t) VALUES (3, 1296705900000)")
    s.execute("INSERT INTO tsf (id, t) VALUES (4, '2011-02-03 04:05:00')")
    s.execute("INSERT INTO tsf (id, t) VALUES (6, '2011-02-03 04:05')")
    // date-only with zone (upstream 'yyyy-MM-ddX' pattern) — midnight UTC
    s.execute("INSERT INTO tsf (id, t) VALUES (7, '2011-02-03+0000')")
    assert(s.execute("SELECT t FROM tsf WHERE id = 7").head()
      .getTimestamp(0).getTime === 1296691200000L)
    val ts = s.execute("SELECT id, t FROM tsf ALLOW FILTERING").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert((ts - 7L).values.toSet.size === 1,
      s"all five time-bearing forms = same instant: $ts")
    assert(intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO tsf (id, t) VALUES (5, 'not a time')")
    }.getMessage.contains("invalid timestamp"))
  }

  test("blob literals: 0x hex round-trips; odd digit count rejected") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE bb (id bigint PRIMARY KEY, data blob)")
    s.execute("INSERT INTO bb (id, data) VALUES (1, 0xCAFEBABE)")
    val b = s.execute("SELECT data FROM bb WHERE id = 1")
      .head().getAs[Array[Byte]](0)
    assert(b.toSeq === Seq(0xCA.toByte, 0xFE.toByte, 0xBA.toByte, 0xBE.toByte))
    intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO bb (id, data) VALUES (2, 0xCAF)")
    }
    // empty blob (upstream zero-length BytesType)
    s.execute("INSERT INTO bb (id, data) VALUES (3, 0x)")
    assert(s.execute("SELECT data FROM bb WHERE id = 3")
      .head().getAs[Array[Byte]](0).isEmpty)
    // LWT conditions compare blobs bytewise, not by reference
    val r = s.execute(
      "UPDATE bb SET data = 0x00 WHERE id = 1 IF data = 0xCAFEBABE")
    assert(r.head().getBoolean(0), "[applied] must be true on byte equality")
  }

  test("DDL rejects trailing garbage; DROP INDEX resolves its keyspace " +
    "qualifier") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE dg (id bigint PRIMARY KEY, v text)")
    intercept[CqlInvalidQueryException] {
      s.execute("DROP TABLE dg WHERE oops")
    }
    s.execute("CREATE INDEX dg_v_idx ON dg (v)")
    // a qualifier names a keyspace: an index in a nonexistent keyspace
    // is unknown (r9 — index names scope per keyspace, as upstream)
    intercept[CqlInvalidQueryException] { s.execute("DROP INDEX ks.dg_v_idx") }
    s.execute("DROP INDEX default.dg_v_idx") // the explicit home keyspace
    intercept[CqlInvalidQueryException] { s.execute("DROP INDEX dg_v_idx") }
  }

  test("UDTs are nominal: identically-shaped types stay distinct") {
    val s = freshSession
    // upstream types are NAME-identified (schema/Types.java [U]) — two
    // types sharing a shape must not be conflated by structural equality
    s.execute("CREATE TYPE shape_a (x bigint)")
    s.execute("CREATE TYPE shape_b (x bigint)")
    s.execute("CREATE TABLE ta (id bigint PRIMARY KEY, c frozen<shape_a>)")
    s.execute("INSERT INTO ta (id, c) VALUES (1, {x: 7})")
    // widening b must NOT touch ta.c (declared shape_a)
    s.execute("ALTER TYPE shape_b ADD y text")
    assert(s.execute("SELECT c FROM ta WHERE id = 1").head().getStruct(0)
      .size === 1, "ALTER TYPE shape_b must not widen a shape_a column")
    // b is unused by any table → droppable even while a is in use
    s.execute("DROP TYPE shape_b")
    // a is in use → refused, by name not shape
    assert(intercept[CqlInvalidQueryException] {
      s.execute("DROP TYPE shape_a")
    }.getMessage.contains("still used by table ta"))
    // widening a DOES widen ta.c, and existing cells read null
    s.execute("ALTER TYPE shape_a ADD y text")
    val widened = s.execute("SELECT c FROM ta WHERE id = 1").head().getStruct(0)
    assert(widened.size === 2 && widened.isNullAt(1))
  }

  test("equal-timestamp same-field UDT writes resolve deterministically") {
    val s = freshSession
    s.execute("CREATE TYPE loc (city text)")
    s.execute("CREATE TABLE places (id bigint PRIMARY KEY, l loc)")
    // both writes share one timestamp and one field marker: the winner
    // must be the greater value (upstream cell reconcile tie-break), on
    // every read, independent of mutation-log arrival order
    s.execute("UPDATE places USING TIMESTAMP 10 SET l.city = 'ax' WHERE id = 1")
    s.execute("UPDATE places USING TIMESTAMP 10 SET l.city = 'zz' WHERE id = 1")
    (1 to 3).foreach { _ =>
      assert(s.execute("SELECT l FROM places WHERE id = 1")
        .head().getStruct(0).getString(0) === "zz")
    }
    // same for list appends at one timestamp: order is by (op, value) — stable
    s.execute("CREATE TABLE bags (id bigint PRIMARY KEY, xs list<text>)")
    s.execute("UPDATE bags USING TIMESTAMP 5 SET xs = xs + ['b'] WHERE id = 1")
    s.execute("UPDATE bags USING TIMESTAMP 5 SET xs = xs + ['a'] WHERE id = 1")
    val first = s.execute("SELECT xs FROM bags WHERE id = 1")
      .head().getSeq[String](0)
    (1 to 3).foreach { _ =>
      assert(s.execute("SELECT xs FROM bags WHERE id = 1")
        .head().getSeq[String](0) === first)
    }
  }

  test("DESCRIBE SCHEMA replays on a fresh session; object forms round-trip") {
    val s = CqlSession(spark)
    s.execute("CREATE KEYSPACE app WITH replication = " +
      "{'class': 'SimpleStrategy', 'replication_factor': '1'}")
    // place references geo: the dump must emit geo FIRST
    s.execute("CREATE TYPE geo (lat double, lon double)")
    s.execute("CREATE TYPE place (name text, loc frozen<geo>)")
    s.execute("CREATE TABLE sch_t (pk bigint, ck bigint, v double, " +
      "tag text, home frozen<place>, PRIMARY KEY (pk, ck))")
    s.execute("CREATE INDEX sch_ix ON sch_t (tag)")
    s.execute("CREATE CUSTOM INDEX sch_sai ON sch_t (v) USING 'sai'")
    s.execute("CREATE MATERIALIZED VIEW sch_mv AS SELECT tag, pk, ck " +
      "FROM sch_t WHERE tag IS NOT NULL AND pk IS NOT NULL AND " +
      "ck IS NOT NULL PRIMARY KEY (tag, pk, ck)")
    s.execute("CREATE FUNCTION sch_sf (st double, x double) " +
      "CALLED ON NULL INPUT RETURNS double LANGUAGE java " +
      "AS 'return st + x;'")
    s.execute("CREATE AGGREGATE sch_agg (double) SFUNC sch_sf " +
      "STYPE double INITCOND 0")

    // single-object forms emit round-trippable DDL
    val mvDdl = s.execute("DESCRIBE MATERIALIZED VIEW sch_mv").head()
      .getAs[String]("create_statement")
    assert(mvDdl.contains("tag IS NOT NULL") &&
      mvDdl.contains("PRIMARY KEY (tag, pk, ck)"))
    val ixDdl = s.execute("DESCRIBE INDEX sch_sai").head()
      .getAs[String]("create_statement")
    assert(ixDdl.contains("CUSTOM") && ixDdl.contains("StorageAttachedIndex"))
    val fDdl = s.execute("DESCRIBE FUNCTION sch_sf").head()
      .getAs[String]("create_statement")
    assert(fDdl.contains("CALLED ON NULL INPUT") &&
      fDdl.contains("LANGUAGE java"))
    val aDdl = s.execute("DESCRIBE AGGREGATE sch_agg").head()
      .getAs[String]("create_statement")
    assert(aDdl.contains("SFUNC sch_sf") && aDdl.contains("INITCOND 0"))
    // cqlsh `DESC <name>` shorthand resolves every object class
    assert(s.execute("DESC sch_mv").head()
      .getAs[String]("type") === "materialized_view")
    assert(s.execute("DESC sch_sai").head().getAs[String]("type") === "index")
    assert(s.execute("DESC sch_agg").head()
      .getAs[String]("type") === "aggregate")
    // DESCRIBE KEYSPACE scopes to the named keyspace
    assert(s.execute("DESCRIBE KEYSPACE app").collect()
      .map(_.getAs[String]("name")).toSeq === Seq("app"))
    assert(s.execute("DESCRIBE ONLY KEYSPACE app").count() === 1)
    val cl = s.execute("DESCRIBE CLUSTER").head()
    assert(cl.getAs[String]("partitioner").endsWith("Murmur3Partitioner"))

    // the full dump replays IN EMITTED ORDER on a fresh session
    val dump = s.execute("DESCRIBE SCHEMA").collect()
      .map(_.getAs[String]("create_statement")).toSeq
    assert(dump.indexWhere(_.contains("CREATE TYPE geo")) <
      dump.indexWhere(_.contains("CREATE TYPE place")),
      "referenced type precedes the referencing type")
    val s2 = CqlSession(spark)
    dump.foreach(s2.execute(_))
    s2.execute("INSERT INTO sch_t (pk, ck, v, tag) VALUES (1, 2, 3.5, 'x')")
    assert(s2.execute("SELECT pk FROM sch_mv WHERE tag = 'x'")
      .head().getLong(0) === 1L)
    assert(s2.execute("SELECT sch_agg(v) AS r FROM sch_t")
      .head().getDouble(0) === 3.5)
    assert(s2.execute("SELECT tag FROM sch_t WHERE tag = 'x'").count() === 1,
      "replayed 2i serves the equality lookup without ALLOW FILTERING")
    // and the replayed schema's own dump is a fixpoint
    assert(s2.execute("DESCRIBE SCHEMA").collect()
      .map(_.getAs[String]("create_statement")).toSeq === dump)
  }

  test("ALTER TABLE WITH: options apply, TTL default settable and cancellable") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE ao (k bigint PRIMARY KEY, v text)")
    // semantics-free options parse and discard, as at CREATE
    s.execute("ALTER TABLE ao WITH comment = 'x' AND compaction = " +
      "{'class': 'SizeTieredCompactionStrategy'} AND gc_grace_seconds = 3600")
    s.execute("ALTER TABLE ao WITH default_time_to_live = 60")
    val ddl = s.execute("DESCRIBE TABLE ao").head()
      .getAs[String]("create_statement")
    assert(ddl.contains("default_time_to_live = 60"))
    s.execute("INSERT INTO ao (k, v) VALUES (1, 'a')")
    // a far-future read expires the defaulted TTL (cell-level expiry path)
    val future = Some(Long.MaxValue / 2)
    assert(s.view("ao", future).filter(col("k") === 1).count() === 0,
      "write after ALTER carries the table default TTL and expires")
    s.execute("ALTER TABLE ao WITH default_time_to_live = 0")
    s.execute("INSERT INTO ao (k, v) VALUES (2, 'b')")
    assert(s.view("ao", future).filter(col("k") === 2).count() === 1,
      "default_time_to_live = 0 cancels the default")
    intercept[CqlInvalidQueryException] {
      s.execute("ALTER TABLE ao WITH CLUSTERING ORDER BY (k DESC)")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("ALTER TABLE nosuch WITH comment = 'x'")
    }
    // ALTER KEYSPACE validates and discards replication options
    s.execute("CREATE KEYSPACE aks WITH replication = " +
      "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    s.execute("ALTER KEYSPACE aks WITH replication = " +
      "{'class': 'NetworkTopologyStrategy', 'dc1': 3} AND durable_writes = true")
    intercept[CqlInvalidQueryException] {
      s.execute("ALTER KEYSPACE noks WITH durable_writes = false")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("ALTER KEYSPACE system WITH durable_writes = false")
    }
  }

  test("token(literal) on the value side of a token relation") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tk (k bigint PRIMARY KEY, v bigint)")
    (1L to 5L).foreach(i =>
      s.execute(s"INSERT INTO tk (k, v) VALUES ($i, ${i * 10})"))
    // token(k) > token(3) selects exactly the keys whose ring token
    // exceeds key 3's — the resume-from-key scan pattern drivers issue
    val expect = s.execute("SELECT k, token(k) AS t FROM tk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t3 = expect(3L)
    val got = s.execute(
      "SELECT k FROM tk WHERE token(k) > token(3) ALLOW FILTERING")
      .collect().map(_.getLong(0)).toSet
    assert(got === expect.filter(_._2 > t3).keySet)
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT k FROM tk WHERE token(k) > token(1, 2) ALLOW FILTERING")
    }
  }

  test("prepared token-range scan binds raw bounds (connector split shape)") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tk3 (k bigint PRIMARY KEY, v bigint)")
    (1L to 8L).foreach(i =>
      s.execute(s"INSERT INTO tk3 (k, v) VALUES ($i, $i)"))
    val toks = s.execute("SELECT k, token(k) AS t FROM tk3").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the spark-cassandra-connector issues exactly this statement per
    // split, binding RAW token longs (not token(?)):
    val p = s.prepare(
      "SELECT k FROM tk3 WHERE token(k) > ? AND token(k) <= ? " +
        "ALLOW FILTERING")
    val sorted = toks.values.toSeq.sorted
    val (lo, hi) = (sorted(1), sorted(5))
    val got = p.execute(lo, hi).collect().map(_.getLong(0)).toSet
    assert(got === toks.filter { case (_, t) => t > lo && t <= hi }.keySet)
    assert(got.size === 4)
  }

  test("composite token(literal) coerces each component to its pk type") {
    val s = CqlSession(spark)
    // int components: an integer literal parses as Long (8-byte
    // serialization) but the column hashes 4 bytes — without per-component
    // coercion the two sides of the relation compute different ring tokens
    s.execute("CREATE TABLE tk2 (a int, b int, v bigint, " +
      "PRIMARY KEY ((a, b)))")
    (1 to 4).foreach(i =>
      s.execute(s"INSERT INTO tk2 (a, b, v) VALUES ($i, ${i + 1}, $i)"))
    val eq = s.execute(
      "SELECT v FROM tk2 WHERE token(a, b) = token(2, 3) ALLOW FILTERING")
      .collect().map(_.getLong(0)).toSeq
    assert(eq === Seq(2L))
    // and the range form partitions the rows exactly like the lhs hash
    val toks = s.execute("SELECT v, token(a, b) AS t FROM tk2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = s.execute(
      "SELECT v FROM tk2 WHERE token(a, b) > token(2, 3) ALLOW FILTERING")
      .collect().map(_.getLong(0)).toSet
    assert(got === toks.filter(_._2 > toks(2L)).keySet)
  }

  test("fromJson value literals coerce type-directed in any value position") {
    val s = CqlSession(spark)
    s.execute("CREATE TYPE fj_pt (x bigint, y text)")
    s.execute("CREATE TABLE fj (k bigint PRIMARY KEY, v bigint, " +
      "l list<bigint>, m map<text, bigint>, u fj_pt, txt text)")
    s.execute("INSERT INTO fj (k, v) VALUES (1, fromJson('7'))")
    s.execute("INSERT INTO fj (k, l) VALUES (2, fromJson('[1,2]'))")
    s.execute("INSERT INTO fj (k, m) VALUES (3, fromJson('{\"x\": 5}'))")
    s.execute("INSERT INTO fj (k, u) VALUES " +
      "(4, fromJson('{\"x\": 1, \"y\": \"z\"}'))")
    s.execute("UPDATE fj SET txt = fromJson('\"hi\"') WHERE k = 5")
    assert(s.execute("SELECT v FROM fj WHERE k = 1").head().getLong(0) === 7L)
    assert(s.execute("SELECT l FROM fj WHERE k = 2").head()
      .getAs[Seq[Long]](0) === Seq(1L, 2L))
    assert(s.execute("SELECT m FROM fj WHERE k = 3").head()
      .getAs[Map[String, Long]](0) === Map("x" -> 5L))
    assert(s.execute("SELECT u.y AS y FROM fj WHERE k = 4").head()
      .getString(0) === "z")
    assert(s.execute("SELECT txt FROM fj WHERE k = 5").head()
      .getString(0) === "hi")
    // a marker binds INSIDE fromJson, as upstream
    val p = s.prepare("INSERT INTO fj (k, v) VALUES (?, fromJson(?))")
    p.execute(20L, "44")
    assert(s.execute("SELECT v FROM fj WHERE k = 20").head().getLong(0) === 44L)
    intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO fj (k, v) VALUES (8, fromJson('oops'))")
    }
    // toJson of a UDT cell keeps null fields explicit like upstream
    // ToJsonFct ({"x":1,"y":null}), where Spark's to_json default drops them
    s.execute("INSERT INTO fj (k, u) VALUES (9, fromJson('{\"x\": 1}'))")
    assert(s.execute("SELECT toJson(u) AS ju FROM fj WHERE k = 9").head()
      .getString(0) === "{\"x\":1,\"y\":null}")
  }

  test("list prepend, IN-key writes, toJson selector") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE pin (k bigint PRIMARY KEY, v bigint, " +
      "l list<bigint>, txt text)")
    s.execute("INSERT INTO pin (k, v, l, txt) VALUES (1, 5, [1], 'a\"b')")
    s.execute("INSERT INTO pin (k, v, l) VALUES (2, 6, [2])")
    // `l = [v] + l` prepends (upstream Lists.Prepender)
    s.execute("UPDATE pin SET l = [9] + l WHERE k = 1")
    assert(s.execute("SELECT l FROM pin WHERE k = 1").head()
      .getAs[Seq[Long]](0) === Seq(9L, 1L))
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE pin SET l = [9] + v WHERE k = 1")
    }
    // a whole-list bind marker in the prepend position (upstream
    // Lists.Prepender accepts a marker, not just an inline literal)
    val pre = s.prepare("UPDATE pin SET l = ? + l WHERE k = ?")
    pre.execute(Seq(7L, 8L), 1L)
    assert(s.execute("SELECT l FROM pin WHERE k = 1").head()
      .getAs[Seq[Long]](0) === Seq(7L, 8L, 9L, 1L))
    intercept[CqlInvalidQueryException] { // bound non-list is rejected
      pre.execute(42L, 1L)
    }
    // whole-collection markers on the append/discard forms too (upstream
    // Operation prepares these against column metadata): a bound Seq
    // appends, a bound Seq discards
    val app = s.prepare("UPDATE pin SET l = l + ? WHERE k = ?")
    app.execute(Seq(5L), 1L)
    assert(s.execute("SELECT l FROM pin WHERE k = 1").head()
      .getAs[Seq[Long]](0) === Seq(7L, 8L, 9L, 1L, 5L))
    val rem = s.prepare("UPDATE pin SET l = l - ? WHERE k = ?")
    rem.execute(Seq(8L, 9L), 1L)
    assert(s.execute("SELECT l FROM pin WHERE k = 1").head()
      .getAs[Seq[Long]](0) === Seq(7L, 1L, 5L))
    // IN on the partition key expands to one mutation per value
    s.execute("UPDATE pin SET v = 10 WHERE k IN (1, 2)")
    assert(s.execute("SELECT v FROM pin ALLOW FILTERING").collect()
      .map(_.getLong(0)).toSeq === Seq(10L, 10L))
    s.execute("DELETE FROM pin WHERE k IN (1, 7)") // unknown keys no-op
    assert(s.execute("SELECT k FROM pin ALLOW FILTERING").count() === 1)
    intercept[CqlInvalidQueryException] { // upstream: CAS addresses ONE row
      s.execute("UPDATE pin SET v = 1 WHERE k IN (1, 2) IF EXISTS")
    }
    // toJson emits the JSON VALUE of a cell: quoted/escaped text, arrays,
    // bare numbers, null
    val j = s.execute(
      "SELECT toJson(txt) AS jt, toJson(l) AS jl, toJson(v) AS jv " +
        "FROM pin WHERE k = 2").head()
    assert(j.getString(0) === "null")
    assert(j.getString(1) === "[2]")
    assert(j.getString(2) === "10")
  }

  test("+= / -= assignment shorthand desugars to collection/counter ops") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE sh (k bigint PRIMARY KEY, l list<bigint>, " +
      "st set<text>, m map<text, bigint>)")
    s.execute("CREATE TABLE shc (k bigint PRIMARY KEY, c counter)")
    s.execute("INSERT INTO sh (k, l, st, m) VALUES " +
      "(1, [1], {'a'}, {'x': 1})")
    s.execute("UPDATE sh SET l += [2] WHERE k = 1")
    s.execute("UPDATE sh SET st += {'b'} WHERE k = 1")
    s.execute("UPDATE sh SET st -= {'a'} WHERE k = 1")
    s.execute("UPDATE sh SET m += {'y': 2} WHERE k = 1")
    s.execute("UPDATE shc SET c += 5 WHERE k = 1")
    s.execute("UPDATE shc SET c -= 2 WHERE k = 1")
    val r = s.execute("SELECT l, st, m FROM sh WHERE k = 1").head()
    assert(r.getAs[Seq[Long]]("l") === Seq(1L, 2L))
    assert(r.getAs[Seq[String]]("st") === Seq("b"))
    assert(r.getAs[Map[String, Long]]("m") === Map("x" -> 1L, "y" -> 2L))
    assert(s.execute("SELECT c FROM shc WHERE k = 1").head()
      .getLong(0) === 3L)
  }

  test("LWT conditions: IN, CONTAINS, CONTAINS KEY, collection elements") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE lc (k bigint PRIMARY KEY, v bigint, " +
      "l list<bigint>, m map<text, bigint>)")
    s.execute("INSERT INTO lc (k, v, l, m) VALUES " +
      "(1, 5, [1, 2, 3], {'a': 10, 'b': 20})")
    def applied(cql: String) = s.execute(cql).collect()(0).getBoolean(0)
    assert(applied("UPDATE lc SET v = 6 WHERE k = 1 IF v IN (4, 5)"))
    assert(!applied("UPDATE lc SET v = 7 WHERE k = 1 IF v IN (4, 5)"),
      "v moved to 6, no longer in the list")
    assert(!applied("UPDATE lc SET v = 7 WHERE k = 1 IF v IN ()"),
      "an empty IN list matches nothing")
    assert(applied("UPDATE lc SET v = 7 WHERE k = 1 IF l CONTAINS 2"))
    assert(!applied("UPDATE lc SET v = 8 WHERE k = 1 IF l CONTAINS 9"))
    assert(applied("UPDATE lc SET v = 8 WHERE k = 1 IF m CONTAINS KEY 'a'"))
    assert(applied("UPDATE lc SET v = 9 WHERE k = 1 IF m CONTAINS 20"))
    assert(applied("UPDATE lc SET v = 10 WHERE k = 1 IF l[1] = 2"))
    assert(!applied("UPDATE lc SET v = 11 WHERE k = 1 IF l[5] = 2"),
      "an out-of-range element reads null and fails the comparison")
    assert(applied("UPDATE lc SET v = 11 WHERE k = 1 IF m['b'] >= 15"))
    assert(!applied("UPDATE lc SET v = 12 WHERE k = 1 IF m['zz'] = 1"),
      "a missing map key reads null")
    assert(s.execute("SELECT v FROM lc WHERE k = 1")
      .collect()(0).getLong(0) === 11L)
    // prepared: markers bind inside the IN list and the element subscript
    val p = s.prepare("UPDATE lc SET v = ? WHERE k = ? IF v IN (?, ?)")
    assert(p.execute(20L, 1L, 11L, 12L).collect()(0).getBoolean(0))
    val pe = s.prepare("UPDATE lc SET v = ? WHERE k = ? IF m[?] = ?")
    assert(pe.execute(21L, 1L, "a", 10L).collect()(0).getBoolean(0))
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE lc SET v = 1 WHERE k = 1 IF v CONTAINS 1")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE lc SET v = 1 WHERE k = 1 IF l CONTAINS KEY 1")
    }
  }

  test("LWT conditions on UDT fields") {
    val s = CqlSession(spark)
    s.execute("CREATE TYPE addr (city text, zip bigint)")
    s.execute("CREATE TABLE lu (k bigint PRIMARY KEY, a addr)")
    s.execute("INSERT INTO lu (k, a) VALUES (1, {city: 'spb', zip: 190000})")
    def applied(cql: String) = s.execute(cql).collect()(0).getBoolean(0)
    assert(applied("UPDATE lu SET a.zip = 190001 WHERE k = 1 " +
      "IF a.city = 'spb'"))
    assert(!applied("UPDATE lu SET a.zip = 190002 WHERE k = 1 " +
      "IF a.zip < 190001"), "field write applied above — zip is 190001")
    assert(applied("DELETE FROM lu WHERE k = 1 IF a.zip IN (190001)"))
    assert(s.execute("SELECT k FROM lu ALLOW FILTERING").count() === 0)
  }

  test("r8 review: LWT conditions compare dates/tinyints; conditional " +
    "writes must address one row; statics need only the partition key") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rv_lwt (pk bigint PRIMARY KEY, d date, t tinyint)")
    s.execute("INSERT INTO rv_lwt (pk, d, t) VALUES (1, '2024-06-01', 3)")
    s.execute("UPDATE rv_lwt SET t = 4 WHERE pk = 1 IF d < '2025-01-01'")
    assert(s.execute("SELECT t FROM rv_lwt WHERE pk = 1").head()
      .getByte(0) === 4.toByte)
    s.execute("UPDATE rv_lwt SET t = 5 WHERE pk = 1 IF t > 3")
    assert(s.execute("SELECT t FROM rv_lwt WHERE pk = 1").head()
      .getByte(0) === 5.toByte)
    // a conditional DELETE restricting only a clustering PREFIX previously
    // CAS'd against an arbitrary row, then range-tombstoned the prefix
    s.execute("CREATE TABLE rv_ck (pk bigint, ck bigint, v bigint, " +
      "PRIMARY KEY (pk, ck))")
    s.execute("INSERT INTO rv_ck (pk, ck, v) VALUES (1, 1, 1)")
    s.execute("INSERT INTO rv_ck (pk, ck, v) VALUES (1, 2, 5)")
    val e = intercept[CqlInvalidQueryException] {
      s.execute("DELETE FROM rv_ck WHERE pk = 1 IF v = 5")
    }
    assert(e.getMessage.contains("PRIMARY KEY"))
    assert(s.execute("SELECT count(*) FROM rv_ck").head().getLong(0) === 2L)
    // a condition on ONLY static columns needs just the partition key
    s.execute("CREATE TABLE rv_st (pk bigint, ck bigint, st bigint STATIC, " +
      "v bigint, PRIMARY KEY (pk, ck))")
    s.execute("INSERT INTO rv_st (pk, st) VALUES (1, 1)")
    s.execute("UPDATE rv_st SET st = 2 WHERE pk = 1 IF st = 1")
    assert(s.execute("SELECT st FROM rv_st WHERE pk = 1").head()
      .getLong(0) === 2L)
  }

  test("r8 review: an explicit USING TIMESTAMP ratchets the clock so " +
    "later server-stamped writes still win") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rv_ts (pk bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO rv_ts (pk, v) VALUES (1, 'a') " +
      "USING TIMESTAMP 1700000000000000") // realistic epoch-micros
    s.execute("UPDATE rv_ts SET v = 'b' WHERE pk = 1")
    assert(s.execute("SELECT v FROM rv_ts WHERE pk = 1").head()
      .getString(0) === "b")
  }

  test("r8 review: null element assignment DELETES the entry/slot") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rv_coll (pk bigint PRIMARY KEY, " +
      "m map<text, bigint>, l list<bigint>)")
    s.execute("INSERT INTO rv_coll (pk, m, l) VALUES " +
      "(1, {'a': 1, 'b': 2}, [10, 20, 30])")
    s.execute("UPDATE rv_coll SET m['a'] = null WHERE pk = 1")
    val m = s.execute("SELECT m FROM rv_coll WHERE pk = 1").head()
      .getMap[String, Long](0)
    assert(m.keySet === Set("b"))
    s.execute("UPDATE rv_coll SET l[1] = null WHERE pk = 1")
    assert(s.execute("SELECT l FROM rv_coll WHERE pk = 1").head()
      .getSeq[Long](0) === Seq(10L, 30L))
  }

  test("r8 review: INSERT JSON on a counter table is rejected; CREATE " +
    "TABLE in any system keyspace is rejected; USE default works") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE rv_cnt (pk bigint PRIMARY KEY, n counter)")
    val e = intercept[CqlInvalidQueryException] {
      s.execute("""INSERT INTO rv_cnt JSON '{"pk": 1, "n": 5}'""")
    }
    assert(e.getMessage.contains("not allowed on counter"))
    val e2 = intercept[CqlInvalidQueryException] {
      s.execute("CREATE TABLE system_views.hack (pk bigint PRIMARY KEY)")
    }
    assert(e2.getMessage.contains("not user-modifiable"))
    s.execute("USE default") // the implicit user keyspace is USE-able
    // SHOW SESSION escapes a quoted id instead of splicing raw text
    assert(s.execute("SHOW SESSION O'Brien").count() === 0L)
  }

  test("r8 review: deleting every UDT field reads the column as null " +
    "and drops an UPDATE-created row") {
    val s = CqlSession(spark)
    s.execute("CREATE TYPE pair (a bigint, b bigint)")
    s.execute("CREATE TABLE udel (k bigint PRIMARY KEY, u pair)")
    // UPDATE-created row (no INSERT marker): lives only through its cells
    s.execute("UPDATE udel SET u.a = 1 WHERE k = 1")
    s.execute("UPDATE udel SET u.b = 2 WHERE k = 1")
    assert(s.execute("SELECT u.a, u.b FROM udel WHERE k = 1").head()
      .getLong(0) === 1L)
    s.execute("DELETE u.a FROM udel WHERE k = 1")
    // one field left: column still a struct
    assert(s.execute("SELECT u.b FROM udel WHERE k = 1").head()
      .getLong(0) === 2L)
    s.execute("DELETE u.b FROM udel WHERE k = 1")
    // no live cells: u is NULL (not {a:null,b:null}) and the UPDATE-only
    // row disappears entirely, as upstream
    assert(s.execute("SELECT k FROM udel WHERE k = 1").count() === 0L)
  }

  test("r8 review: SELECT JSON of a UDT-field selector resolves the " +
    "dotted output column") {
    val s = CqlSession(spark)
    s.execute("CREATE TYPE addr (city text, zip bigint)")
    s.execute("CREATE TABLE ju (k bigint PRIMARY KEY, a addr)")
    s.execute("INSERT INTO ju (k, a) VALUES (1, {city: 'oslo', zip: 42})")
    // the output column is literally named "a.city" — the JSON wrap must
    // backtick-quote it, not parse it as struct access on column "a"
    val out = s.execute("SELECT JSON a.city FROM ju WHERE k = 1").head()
    assert(out.getString(0).contains("oslo"))
  }

  test("protocol-v4 UNSET bind: value positions skip the cell; key, " +
    "WHERE, LIMIT, and element positions reject it") {
    import graft.cql.CqlSession.Unset
    val s = CqlSession(spark)
    s.execute("CREATE TABLE unset_t (k bigint PRIMARY KEY, a text, b text)")
    s.execute("INSERT INTO unset_t (k, a, b) VALUES (1, 'a0', 'b0')")
    val ins = s.prepare("INSERT INTO unset_t (k, a, b) VALUES (?, ?, ?)")
    // unset b: a updates, b keeps its prior cell (no tombstone)
    ins.execute(1L, "a1", Unset)
    var r = s.execute("SELECT a, b FROM unset_t WHERE k = 1").head()
    assert((r.getString(0), r.getString(1)) === ("a1", "b0"))
    // unset on a NEW row: only the bound cells exist
    ins.execute(2L, Unset, "b2")
    r = s.execute("SELECT a, b FROM unset_t WHERE k = 2").head()
    assert(r.isNullAt(0) && r.getString(1) === "b2")
    // explicit null STILL tombstones (unset != null)
    ins.execute(1L, null, Unset)
    r = s.execute("SELECT a, b FROM unset_t WHERE k = 1").head()
    assert(r.isNullAt(0) && r.getString(1) === "b0")
    // UPDATE SET col = unset drops the assignment, others land
    val up = s.prepare("UPDATE unset_t SET a = ?, b = ? WHERE k = ?")
    up.execute(Unset, "b9", 1L)
    r = s.execute("SELECT a, b FROM unset_t WHERE k = 1").head()
    assert(r.isNullAt(0) && r.getString(1) === "b9")
    // illegal positions: pk, WHERE, LIMIT, collection element
    intercept[CqlInvalidQueryException] { ins.execute(Unset, "x", "y") }
    intercept[CqlInvalidQueryException] { up.execute("x", "y", Unset) }
    val sel = s.prepare("SELECT a FROM unset_t WHERE k = ?")
    intercept[CqlInvalidQueryException] { sel.execute(Unset) }
    val lim = s.prepare("SELECT a FROM unset_t WHERE k = 1 LIMIT ?")
    intercept[CqlInvalidQueryException] { lim.execute(Unset) }
    s.execute("CREATE TABLE unset_l (k bigint PRIMARY KEY, l list<text>)")
    val lp = s.prepare("INSERT INTO unset_l (k, l) VALUES (?, [?])")
    intercept[CqlInvalidQueryException] { lp.execute(3L, Unset) }
    // DELETE key with unset rejected
    val del = s.prepare("DELETE FROM unset_t WHERE k = ?")
    intercept[CqlInvalidQueryException] { del.execute(Unset) }
  }

  test("operator expressions fold in terms: INSERT values, WHERE rhs, " +
    "IN lists, UPDATE rhs, LWT conditions (CASSANDRA-11935)") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE arith_t (k bigint PRIMARY KEY, v bigint, " +
      "d double)")
    s.execute("INSERT INTO arith_t (k, v, d) VALUES (1 + 1, 3 * 4 - 2, " +
      "1.5 * 2)")
    var r = s.execute("SELECT k, v, d FROM arith_t WHERE k = 4 / 2").head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) === (2L, 10L, 3.0))
    // integral / integral truncates toward zero; % is remainder
    s.execute("INSERT INTO arith_t (k, v) VALUES (7 / 2, 7 % 2)")
    r = s.execute("SELECT k, v FROM arith_t WHERE k = 3").head()
    assert((r.getLong(0), r.getLong(1)) === (3L, 1L))
    // precedence + parens in an UPDATE rhs and an IN list
    s.execute("UPDATE arith_t SET v = (2 + 3) * 4 WHERE k = 2")
    val rows = s.execute(
      "SELECT k, v FROM arith_t WHERE k IN (1 + 1, 2 + 1)")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rows === Map(2L -> 20L, 3L -> 1L))
    // LWT condition rhs folds too
    val res = s.execute(
      "UPDATE arith_t SET v = 0 WHERE k = 2 IF v = 10 * 2").head()
    assert(res.getBoolean(res.fieldIndex("[applied]")))
    // division by zero in a folded term is a query error, as upstream
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT k FROM arith_t WHERE k = 1 / 0")
    }
    // list prepend `l = [x] + l` still parses (the + follows a LIST)
    s.execute("CREATE TABLE arith_l (k bigint PRIMARY KEY, l list<bigint>)")
    s.execute("INSERT INTO arith_l (k, l) VALUES (1, [2])")
    s.execute("UPDATE arith_l SET l = [1] + l WHERE k = 1")
    val lv = s.execute("SELECT l FROM arith_l WHERE k = 1").head()
      .getSeq[Long](0)
    assert(lv === Seq(1L, 2L))
  }
}

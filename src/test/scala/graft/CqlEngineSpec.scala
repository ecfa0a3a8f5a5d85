package graft

import graft.cql.{CqlEngine, CqlInvalidQueryException, CqlTable}
import graft.operators.CassandraModel
import org.apache.spark.sql.functions._

/** The "switch and run your CQL" tests: reference-style query text executes
  * through the façade and matches the native DataFrame formulation. */
class CqlEngineSpec extends SparkSpec {

  private lazy val cqlEngine = CqlEngine.forFixtures(spark, sf)

  test("point read: get(key) — full partition in clustering order") {
    val out = cqlEngine.execute(
      "SELECT l_linenumber, l_quantity FROM lineitem WHERE l_orderkey = 1 ORDER BY l_linenumber")
    val native = Tables.lineitem(spark, sf).filter(col("l_orderkey") === 1)
      .select("l_linenumber", "l_quantity").orderBy("l_linenumber")
    assert(out.collect().toSeq === native.collect().toSeq)
  }

  test("get_slice: clustering range, reversed, with LIMIT") {
    val out = cqlEngine.execute(
      "SELECT l_linenumber FROM lineitem WHERE l_orderkey = 1 AND l_linenumber >= 2 ORDER BY l_linenumber DESC LIMIT 3")
    val vals = out.collect().map(_.getInt(0)).toSeq
    assert(vals === vals.sorted.reverse && vals.forall(_ >= 2) && vals.length <= 3)
  }

  test("multiget_slice: pk IN with PER PARTITION LIMIT") {
    val out = cqlEngine.execute(
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey IN (1, 3, 7) PER PARTITION LIMIT 2")
    val perKey = out.collect().groupBy(_.getLong(0))
    assert(perKey.keySet.subsetOf(Set(1L, 3L, 7L)))
    assert(perKey.values.forall(_.length <= 2))
  }

  test("aggregates with GROUP BY and aliases") {
    val out = cqlEngine.execute(
      "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem GROUP BY l_returnflag ALLOW FILTERING")
    assert(out.columns.toSeq === Seq("l_returnflag", "n", "q"))
    assert(out.count() > 0)
  }

  test("token range scan pages the ring like the bulk path") {
    val out = cqlEngine.execute(
      "SELECT count(*) AS n FROM orders WHERE token(o_orderkey) > 500000000 ALLOW FILTERING")
    val native = Tables.orders(spark, sf)
      .filter(CassandraModel.tokenOf(col("o_orderkey")) > 500000000L).count()
    assert(out.head().getLong(0) === native)
  }

  test("writetime() selector works on the upsert-log model") {
    val out = cqlEngine.execute(
      "SELECT pk, writetime(price) AS wt FROM upsert_log WHERE pk = 7")
    assert(out.columns.toSeq === Seq("pk", "wt"))
    assert(out.count() === 3) // three log versions of pk 7
  }

  test("SELECT JSON returns one json column") {
    val out = cqlEngine.execute(
      "SELECT JSON o_orderkey, o_orderstatus FROM orders WHERE o_orderkey = 5")
    assert(out.columns.toSeq === Seq("[json]"))
    assert(out.head().getString(0).contains("\"o_orderkey\":5"))
  }

  test("get_count: COUNT(*) within one partition") {
    val n = cqlEngine.execute(
      "SELECT count(*) AS n FROM lineitem WHERE l_orderkey = 1").head().getLong(0)
    val native = Tables.lineitem(spark, sf).filter(col("l_orderkey") === 1).count()
    assert(n === native && n > 0)
  }

  test("explain (TRACING analogue) shows the pushed-down point-read plan") {
    val plan = cqlEngine.explain(
      "SELECT l_linenumber FROM lineitem WHERE l_orderkey = 1")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(l_orderkey,1)"),
      plan.take(2000))
  }

  test("guardrail: non-key predicate without ALLOW FILTERING is rejected") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT * FROM orders WHERE o_totalprice > 1000")
    }
    assert(e.getMessage.contains("ALLOW FILTERING"))
    // and the same query passes WITH the escape hatch
    assert(cqlEngine.execute(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > 1000 ALLOW FILTERING")
      .head().getLong(0) > 0)
  }

  test("guardrail: range on partition key without token() is rejected") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT * FROM orders WHERE o_orderkey > 10")
    }
    assert(e.getMessage.contains("EQ and IN"))
  }

  test("guardrail: ORDER BY demands a restricted partition key") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT * FROM lineitem ORDER BY l_linenumber")
    }
    assert(e.getMessage.contains("partition key"))
  }

  test("malformed CQL fails fast with CqlInvalidQueryException, never hangs") {
    for (bad <- Seq(
        "SELEC * FROM orders",
        "SELECT * FORM orders",
        "SELECT * FROM",
        "SELECT count( FROM orders",
        "SELECT * FROM orders WHERE",
        "SELECT * FROM orders WHERE o_orderkey = ",
        "SELECT * FROM orders LIMIT banana",
        "SELECT * FROM orders; DROP TABLE orders",
        "💥 ; -- garbage")) {
      intercept[Exception] { cqlEngine.execute(bad) } match {
        case _: CqlInvalidQueryException => // expected
        case _: NumberFormatException => // LIMIT banana
        case e => fail(s"unexpected ${e.getClass} for: $bad")
      }
    }
  }

  test("unknown table and unknown function are rejected by name") {
    val e1 = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT * FROM nosuch")
    }
    assert(e1.getMessage.contains("nosuch"))
    val e2 = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT frobnicate(x) FROM orders")
    }
    assert(e2.getMessage.contains("frobnicate"))
  }

  test("tuple restriction on clustering columns") {
    val out = cqlEngine.execute(
      "SELECT user_id, event_id FROM events WHERE user_id = 3 AND (ts, event_id) > ('2024-01-10', 0) ALLOW FILTERING")
    assert(out.count() >= 0) // shape check; comparison semantics spot-checked below
  }

  test("LIKE prefix match (SASI analogue)") {
    val out = cqlEngine.execute(
      "SELECT doc_id FROM documents WHERE source LIKE 'src1%' LIMIT 5 ALLOW FILTERING")
    assert(out.count() <= 5)
  }

  test("ORDER BY embedding ANN OF returns the exact cosine top-k") {
    import graft.functions.VectorFunctions.cosineFast
    // query vector = embedding of vec_id 0, rendered into the CQL text the
    // way a Cassandra 5.0 client would send it
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .head().getSeq[Float](1)
    val cql = s"SELECT vec_id FROM embeddings ORDER BY embedding " +
      s"ANN OF [${qv.mkString(", ")}] LIMIT 5"
    val got = cqlEngine.execute(cql).collect().map(_.getLong(0)).toSeq
    val expected = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        cosineFast(col("embedding"),
          array(qv.map(lit(_)): _*).cast("array<float>")).as("sim"))
      .orderBy(col("sim").desc)
      .limit(5).collect().map(_.getLong(0)).toSeq
    assert(got === expected)
    // the ANN path must plan the distributed top-k, not a global sort
    val plan = cqlEngine.execute(cql).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("ANN OF composes with WHERE: predicate pre-filters the index scan") {
    import graft.functions.VectorFunctions.cosineFast
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .head().getSeq[Float](1)
    val got = cqlEngine.execute(
      s"SELECT vec_id FROM embeddings WHERE vec_id < 100 ORDER BY embedding " +
        s"ANN OF [${qv.mkString(", ")}] LIMIT 3 ALLOW FILTERING")
      .collect().map(_.getLong(0)).toSeq
    val expected = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
      .select(col("vec_id"),
        cosineFast(col("embedding"),
          array(qv.map(lit(_)): _*).cast("array<float>")).as("sim"))
      .orderBy(col("sim").desc).limit(3).collect().map(_.getLong(0)).toSeq
    assert(got === expected)
  }

  test("similarity_cosine(col, [vector]) selector scores like Cassandra 5.0") {
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .head().getSeq[Float](1)
    val out = cqlEngine.execute(
      s"SELECT vec_id, similarity_cosine(embedding, [${qv.mkString(", ")}]) " +
        s"AS score FROM embeddings WHERE vec_id = 0")
      .head()
    // self-similarity: cosine 1 → Cassandra score (1+cos)/2 = 1
    assert(math.abs(out.getDouble(1) - 1.0) < 1e-6)
    // and with two column args it scores column-vs-column
    val out2 = cqlEngine.execute(
      "SELECT similarity_dot_product(embedding, embedding) AS s FROM embeddings WHERE vec_id = 1")
    assert(!out2.head().isNullAt(0))
  }

  test("ANN OF without LIMIT is rejected, as upstream requires") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute(
        "SELECT vec_id FROM embeddings ORDER BY embedding ANN OF [1.0, 2.0]")
    }
    assert(e.getMessage.toLowerCase.contains("limit"))
  }

  // -- TimeFcts family ------------------------------------------------------

  private def timeuuidSession = {
    import graft.cql.CqlSession
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tl (day text, ev timeuuid, what text, PRIMARY KEY (day, ev))")
    // three v1 uuids one hour apart on the timeline, written out of order
    def uuidAt(ts: String) = spark.range(1)
      .select(graft.functions.TimeuuidFunctions
        .minTimeuuid(lit(ts).cast("timestamp"))).head().getString(0)
    Seq("2024-03-01 10:00:00" -> "b", "2024-03-01 09:00:00" -> "a",
        "2024-03-01 11:00:00" -> "c").foreach { case (ts, w) =>
      s.execute(s"INSERT INTO tl (day, ev, what) VALUES ('d1', '${uuidAt(ts)}', '$w')")
    }
    s
  }

  test("toTimestamp/dateOf/unixTimestampOf selectors decode a timeuuid column") {
    val s = timeuuidSession
    val r = s.execute(
      "SELECT what, toTimestamp(ev) AS ts, toDate(ev) AS d, unixTimestampOf(ev) AS ms " +
        "FROM tl WHERE day = 'd1' AND what = 'a' ALLOW FILTERING").head()
    assert(r.getTimestamp(1).toString === "2024-03-01 09:00:00.0")
    assert(r.getDate(2).toString === "2024-03-01")
    assert(r.getLong(3) === java.sql.Timestamp.valueOf("2024-03-01 09:00:00").getTime)
  }

  test("minTimeuuid/maxTimeuuid predicate bounds slice the timeline in time order") {
    val s = timeuuidSession
    def whats(cql: String) = s.execute(cql).collect().map(_.getString(0)).toSeq
    assert(whats("SELECT what FROM tl WHERE day = 'd1' " +
      "AND ev > maxTimeuuid('2024-03-01 09:30:00') ORDER BY ev") === Seq("b", "c"))
    assert(whats("SELECT what FROM tl WHERE day = 'd1' " +
      "AND ev >= minTimeuuid('2024-03-01 10:00:00') " +
      "AND ev <= maxTimeuuid('2024-03-01 10:59:59') ORDER BY ev") === Seq("b"),
      "minTimeuuid >= includes the uuid AT the bound; maxTimeuuid <= caps it")
    assert(whats("SELECT what FROM tl WHERE day = 'd1' " +
      "AND ev < minTimeuuid('2024-03-01 09:00:00') ORDER BY ev") === Seq(),
      "nothing precedes the minimal uuid of the earliest tick")
  }

  test("minTimeuuid selector emits a v1 uuid whose ticks round-trip") {
    val s = timeuuidSession
    val r = s.execute(
      "SELECT toTimestamp(minTimeuuid('2024-06-01 12:00:00')) AS ts " +
        "FROM tl WHERE day = 'd1' LIMIT 1").head()
    assert(r.getTimestamp(0).toString === "2024-06-01 12:00:00.0")
  }

  test("toTimestamp on a text column holding a timestamp STRING casts, not decodes") {
    // only values with the v1-uuid shape take the timeuuid tick path; a
    // plain date/timestamp string in a text column converts with cast
    import graft.cql.CqlSession
    val s = CqlSession(spark)
    s.execute("CREATE TABLE notes (id text, at text, PRIMARY KEY (id))")
    s.execute("INSERT INTO notes (id, at) VALUES ('n1', '2024-03-01 09:00:00')")
    val r = s.execute("SELECT toTimestamp(at) AS ts, toDate(at) AS d FROM notes " +
      "WHERE id = 'n1'").head()
    assert(r.getTimestamp(0).toString === "2024-03-01 09:00:00.0")
    assert(r.getDate(1).toString === "2024-03-01")
  }

  test("prepared bind markers inside function literals and element deletes") {
    val s = timeuuidSession
    // maxTimeuuid(?) in a predicate: the marker binds through the fn literal
    val p = s.prepare("SELECT what FROM tl WHERE day = ? " +
      "AND ev > maxTimeuuid(?) ORDER BY ev")
    val got = p.execute("d1", "2024-03-01 09:30:00").collect().map(_.getString(0))
    assert(got.toSeq === Seq("b", "c"))
    // DELETE l[?]: the subscript binds
    s.execute("CREATE TABLE lists (id text, l list<bigint>, PRIMARY KEY (id))")
    s.execute("INSERT INTO lists (id, l) VALUES ('a', [10, 20, 30])")
    val del = s.prepare("DELETE l[?] FROM lists WHERE id = ?")
    del.execute(1L, "a")
    val l = s.execute("SELECT l FROM lists WHERE id = 'a'").head().getSeq[Long](0)
    assert(l === Seq(10L, 30L))
  }

  test("OR disjunctions (5.0 CEP-29): results, AND-over-OR precedence, parens") {
    val li = Tables.lineitem(spark, sf)
    // plain disjunction under ALLOW FILTERING
    val out = cqlEngine.execute(
      "SELECT l_orderkey, l_linenumber FROM lineitem " +
        "WHERE l_quantity > 49 OR l_discount < 0.01 ALLOW FILTERING")
    assert(out.count() ===
      li.filter(col("l_quantity") > 49 || col("l_discount") < 0.01).count())
    // AND binds tighter than OR: a OR b AND c ≡ a OR (b AND c)
    val loose = cqlEngine.execute(
      "SELECT count(*) AS n FROM lineitem WHERE l_quantity > 49 " +
        "OR l_quantity < 2 AND l_discount < 0.05 ALLOW FILTERING")
      .head().getLong(0)
    assert(loose === li.filter(col("l_quantity") > 49 ||
      (col("l_quantity") < 2 && col("l_discount") < 0.05)).count())
    // parentheses regroup: (a OR b) AND c
    val grouped = cqlEngine.execute(
      "SELECT count(*) AS n FROM lineitem WHERE (l_quantity > 49 " +
        "OR l_quantity < 2) AND l_discount < 0.05 ALLOW FILTERING")
      .head().getLong(0)
    assert(grouped === li.filter((col("l_quantity") > 49 ||
      col("l_quantity") < 2) && col("l_discount") < 0.05).count())
    assert(loose !== grouped) // the fixture distinguishes the two shapes
    // nested groups and IN leaves
    val nested = cqlEngine.execute(
      "SELECT count(*) AS n FROM lineitem WHERE l_orderkey IN (1, 3) " +
        "OR (l_quantity > 49 AND (l_linenumber = 1 OR l_linenumber = 2)) " +
        "ALLOW FILTERING").head().getLong(0)
    assert(nested === li.filter(col("l_orderkey").isin(1, 3) ||
      (col("l_quantity") > 49 &&
        (col("l_linenumber") === 1 || col("l_linenumber") === 2))).count())
  }

  test("OR needs an index or ALLOW FILTERING; token/tuple leaves rejected") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT l_orderkey FROM lineitem " +
        "WHERE l_quantity > 49 OR l_discount < 0.01")
    }
    assert(e.getMessage.contains("ALLOW FILTERING"))
    // an OR-ed pk restriction earns no key exemption — still filtering
    val e2 = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT l_orderkey FROM lineitem " +
        "WHERE l_orderkey = 1 OR l_orderkey = 3")
    }
    assert(e2.getMessage.contains("ALLOW FILTERING"))
    val e3 = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT l_orderkey FROM lineitem " +
        "WHERE token(l_orderkey) > 0 OR l_quantity > 49 ALLOW FILTERING")
    }
    assert(e3.getMessage.contains("token"))
    val e4 = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT l_orderkey FROM lineitem " +
        "WHERE (l_linenumber) = (1) OR l_quantity > 49 ALLOW FILTERING")
    }
    assert(e4.getMessage.contains("Multi-column"))
  }

  test("negative numeric literal as a function argument parses") {
    // '-' is its own token since the tokenizer change; the selector's literal
    // detection must still fold unary minus (ADVICE r5)
    import graft.cql.CqlParser
    val sel = CqlParser.parse("SELECT similarity_cosine(embedding, [-1.0, 0.5]) " +
      "FROM embeddings LIMIT 1")
    assert(sel != null)
    // Cassandra 5.0 similarity_cosine is (1+cos)/2 — opposite vectors → 0
    val r = cqlEngine.execute("SELECT similarity_cosine([1.0, 0.0], [-1.0, 0.0]) " +
      "AS s FROM embeddings LIMIT 1").head()
    assert(math.abs(r.getDouble(0)) < 1e-6)
  }

  test("CAST(col AS cqltype) selector: CQL type names, upstream column naming") {
    val r = cqlEngine.execute(
      "SELECT CAST(l_quantity AS int) AS qi, CAST(l_orderkey AS text) AS ks " +
        "FROM lineitem WHERE l_orderkey = 1 ORDER BY l_linenumber LIMIT 1")
      .head()
    assert(r.getInt(0) === Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") === 1).orderBy("l_linenumber")
      .head().getAs[Double]("l_quantity").toInt)
    assert(r.getString(1) === "1")
    // unaliased cast keeps Cassandra's result-column name
    assert(cqlEngine.execute(
      "SELECT CAST(l_quantity AS double) FROM lineitem WHERE l_orderkey = 1")
      .columns.head === "cast(l_quantity as double)")
    // unknown CQL type is rejected at parse
    intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT CAST(l_quantity AS integerish) FROM lineitem " +
        "WHERE l_orderkey = 1")
    }
  }

  test("O4 paging: stateless clustering-tuple page tokens reassemble the partition") {
    val pages = cqlEngine.executePaged(
      "SELECT ts, event_id, event_type FROM events WHERE user_id = 5", 7)
      .map(_.collect().toSeq).toSeq
    val whole = cqlEngine.execute(
      "SELECT ts, event_id, event_type FROM events WHERE user_id = 5 " +
        "ORDER BY ts ASC, event_id ASC").collect().toSeq
    assert(pages.flatten === whole,
      "concatenated pages must equal the unpaged result, in order")
    assert(whole.size > 7, "fixture must actually need multiple pages")
    assert(pages.dropRight(1).forall(_.size == 7), "full pages before the last")
    // a narrow projection still pages — the token is tracked internally
    // even when the clustering columns are projected away
    val narrow = cqlEngine.executePaged(
      "SELECT event_type FROM events WHERE user_id = 5", 7)
      .flatMap(_.collect().toSeq).toSeq
    assert(narrow.map(_.getString(0)) === whole.map(_.getString(2)))
    intercept[CqlInvalidQueryException] {
      cqlEngine.executePaged("SELECT count(*) FROM events WHERE user_id = 5", 7)
        .next()
    }
    // DESC paging: the reversed slice pages with '<' tokens
    val descPages = cqlEngine.executePaged(
      "SELECT ts, event_id FROM events WHERE user_id = 5 " +
        "ORDER BY ts DESC, event_id DESC", 7)
      .flatMap(_.collect().toSeq).toSeq
    assert(descPages === whole.reverse.map(r =>
      org.apache.spark.sql.Row(r.get(0), r.get(1))))
    intercept[CqlInvalidQueryException] {
      cqlEngine.executePaged("SELECT ts FROM events WHERE user_id = 5 " +
        "ORDER BY ts DESC, event_id ASC", 7).next()
    }
  }

  test("O4 paging survives null clustering values at page boundaries") {
    // a static-row phantom sorts with null clustering values; a page token
    // taken on one must not null out the next page's tuple comparison
    import spark.implicits._
    val df = Seq(
      (1L, Option.empty[Long], "s1"), (1L, Some(10L), "a"),
      (1L, Some(20L), "b")).toDF("pk", "ck", "v")
    val eng = new CqlEngine(spark,
      Map("padded" -> CqlTable(df, Seq("pk"), Seq("ck"))))
    val paged = eng.executePaged(
      "SELECT pk, ck, v FROM padded WHERE pk = 1", 1)
      .flatMap(_.collect().toSeq).toSeq
    val whole = eng.execute(
      "SELECT pk, ck, v FROM padded WHERE pk = 1 ORDER BY ck ASC")
      .collect().toSeq
    assert(paged === whole && paged.size === 3,
      "fetchSize=1 pages across the null-ck boundary without dropping rows")
    val descPaged = eng.executePaged(
      "SELECT pk, ck, v FROM padded WHERE pk = 1 ORDER BY ck DESC", 1)
      .flatMap(_.collect().toSeq).toSeq
    assert(descPaged.size === 3 && descPaged === whole.reverse)
  }

  test("O4 paging carries the partition key across multi-partition pages") {
    import spark.implicits._
    // boundary rows share the clustering tuple across partitions (every
    // partition has ck=1,2) — a clustering-only resume token would skip
    // the next partition's rows at each page edge
    val df = Seq(
      (1L, 1L, "a1"), (1L, 2L, "a2"), (2L, 1L, "b1"), (2L, 2L, "b2"),
      (3L, 1L, "c1")).toDF("pk", "ck", "v")
    val eng = new CqlEngine(spark,
      Map("mp" -> CqlTable(df, Seq("pk"), Seq("ck"))))
    val paged = eng.executePaged(
      "SELECT pk, ck, v FROM mp WHERE pk IN (1, 2, 3)", 1)
      .flatMap(_.collect().toSeq).toSeq
    assert(paged.map(_.getString(2)) === Seq("a1", "a2", "b1", "b2", "c1"),
      "pk IN pages all partitions in (pk, ck) order without skips")
    // a full scan (no partition restriction) pages every partition too
    val scan = eng.executePaged("SELECT pk, ck, v FROM mp", 2)
      .flatMap(_.collect().toSeq).toSeq
    assert(scan.map(_.getString(2)) === Seq("a1", "a2", "b1", "b2", "c1"))
    // single-partition paging still uses the pushed clustering-tuple path
    val single = eng.executePaged(
      "SELECT pk, ck, v FROM mp WHERE pk = 1", 1)
      .flatMap(_.collect().toSeq).toSeq
    assert(single.map(_.getString(2)) === Seq("a1", "a2"))
  }

  test("duration literals reject overflow and zero widths") {
    // exact arithmetic: a wrapped Long would silently become an arbitrary
    // bucket width and mis-bucket every row
    assert(intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT floor(ts, 99999999999999999d) AS b, " +
        "count(*) AS n FROM events GROUP BY floor(ts, 99999999999999999d) " +
        "ALLOW FILTERING")
    }.getMessage.contains("overflows"))
    assert(intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT floor(ts, 0s) AS b, count(*) AS n " +
        "FROM events GROUP BY floor(ts, 0s) ALLOW FILTERING")
    }.getMessage.contains("positive"))
  }

  test("PER PARTITION LIMIT follows declared CLUSTERING ORDER (newest first)") {
    import spark.implicits._
    val df = Seq((1L, 1L, "old"), (1L, 2L, "mid"), (1L, 3L, "new"),
      (2L, 1L, "x"), (2L, 2L, "y")).toDF("pk", "ts", "v")
    val eng = new CqlEngine(spark, Map("ev" -> CqlTable(df, Seq("pk"),
      Seq("ts"), clusteringDesc = Seq(true))))
    val got = eng.execute("SELECT pk, ts, v FROM ev PER PARTITION LIMIT 2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 3L), (1L, 2L), (2L, 2L), (2L, 1L)),
      "a DESC table keeps the NEWEST rows per partition")
  }

  test("a partially restricted composite partition key demands ALLOW FILTERING") {
    import spark.implicits._
    val df = Seq((1L, 10L, 1L, "a")).toDF("pk1", "pk2", "ck", "v")
    val eng = new CqlEngine(spark,
      Map("comp" -> CqlTable(df, Seq("pk1", "pk2"), Seq("ck"))))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM comp WHERE pk1 = 1")
    }.getMessage.contains("partially restricted"))
    eng.execute("SELECT v FROM comp WHERE pk1 = 1 ALLOW FILTERING")
    eng.execute("SELECT v FROM comp WHERE pk1 = 1 AND pk2 = 10")
  }

  test("O4 paging serves writetime()/ttl() selectors") {
    val sess = graft.cql.CqlSession(spark)
    sess.execute("CREATE TABLE wt (pk bigint, ck bigint, v text, " +
      "PRIMARY KEY (pk, ck))")
    (1L to 3L).foreach(i => sess.execute(
      s"INSERT INTO wt (pk, ck, v) VALUES (1, $i, 'x') USING TIMESTAMP ${100 * i}"))
    val paged = sess.engineView.executePaged(
      "SELECT ck, writetime(v) AS w FROM wt WHERE pk = 1", 2)
      .flatMap(_.collect().toSeq).toSeq
    assert(paged.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((1L, 100L), (2L, 200L), (3L, 300L)))
  }

  test("O4 paging tracks tokens on tables with metadata columns") {
    // upsert_log carries '_'-prefixed metadata the Star projection drops;
    // the page token must resolve clustering positions by NAME on the
    // page schema, not by index on the table schema
    val pages = cqlEngine.executePaged(
      "SELECT * FROM upsert_log WHERE pk = 7", 2)
      .map(_.collect().toSeq).toSeq
    assert(pages.flatten.size === 3, "pk 7 has exactly 3 log versions")
    assert(pages.head.size === 2 && pages.flatten.map(_.getAs[Int]("v"))
      .sorted === Seq(0, 1, 2))
  }

  test("O4 paging follows mixed declared CLUSTERING ORDER") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 9L, "a"), (1L, 1L, 3L, "b"), (1L, 2L, 7L, "c"),
      (1L, 2L, 1L, "d"), (1L, 3L, 5L, "e")).toDF("pk", "a", "b", "v")
    // declared (a ASC, b DESC): the pager must page in that mixed order —
    // one tuple comparison can't express it; per-column afterTuple can
    val eng = new CqlEngine(spark, Map("mix" -> CqlTable(df, Seq("pk"),
      Seq("a", "b"), clusteringDesc = Seq(false, true))))
    val paged = eng.executePaged("SELECT a, b, v FROM mix WHERE pk = 1", 2)
      .flatMap(_.collect().toSeq).toSeq
    assert(paged.map(_.getString(2)) === Seq("a", "b", "c", "d", "e"),
      "pages follow (a ASC, b DESC) declared order")
    // the exact reverse pages too
    val rev = eng.executePaged(
      "SELECT a, b, v FROM mix WHERE pk = 1 ORDER BY a DESC, b ASC", 2)
      .flatMap(_.collect().toSeq).toSeq
    assert(rev.map(_.getString(2)) === Seq("e", "d", "c", "b", "a"))
    // an order matching neither declared nor reverse is rejected up front
    intercept[CqlInvalidQueryException] {
      eng.executePaged(
        "SELECT a, b, v FROM mix WHERE pk = 1 ORDER BY a ASC, b ASC", 2)
        .next()
    }
  }

  test("floor selector must match its GROUP BY duration") {
    // mismatched durations must error, not silently mislabel 12h buckets
    // as the requested 1h selector
    intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT floor(ts, 1h) AS b, count(*) FROM events " +
        "GROUP BY floor(ts, 12h) ALLOW FILTERING")
    }
    val ok = cqlEngine.execute("SELECT floor(ts, 12h) AS b, count(*) " +
      "FROM events GROUP BY floor(ts, 12h) ALLOW FILTERING")
    assert(ok.columns.head === "b" && ok.count() > 0)
  }

  test("function bounds reject non-ordered operators") {
    val s = timeuuidSession
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT what FROM tl WHERE day = 'd1' " +
        "AND ev IN (minTimeuuid('2024-03-01 09:00:00')) ALLOW FILTERING")
    }
  }

  // -- parser robustness ----------------------------------------------------

  test("fuzz: token soup never escapes as anything but CqlInvalidQueryException") {
    import graft.cql.CqlParser
    val rnd = new scala.util.Random(42)
    val vocab = Array("select", "from", "where", "and", "order", "by", "limit",
      "insert", "into", "values", "update", "set", "delete", "create", "table",
      "index", "type", "materialized", "view", "primary", "key", "batch",
      "events", "user_id", "ts", "(", ")", ",", "=", "<", ">", "*", "'x'",
      "42", "1.5", "[", "]", "{", "}", ":", "?", "-", "allow", "filtering",
      "is", "not", "null", "token", "in", "contains", ";", ".", "frozen",
      // round-7 surfaces: function/aggregate DDL, COPY, duration literals
      "function", "aggregate", "replace", "returns", "language", "as",
      "called", "input", "sfunc", "stype", "finalfunc", "initcond",
      "copy", "to", "header", "delimiter", "describe", "duration",
      "1mo2d3h", "P1Y2M", "12h30m", "system_schema",
      // round-9 surfaces: keyspaces, admin verbs, replication options
      "keyspace", "use", "compact", "snapshot", "clear", "with",
      "replication", "durable_writes", "class", "SimpleStrategy",
      "NetworkTopologyStrategy", "replication_factor", "vector",
      "default", "ksa", "if", "exists", "true", "false",
      // round-10 surfaces: CQL arithmetic (4.0 operators), datetime
      // arithmetic, cqlsh SOURCE, audit replay
      "+", "/", "%", "totimestamp", "now", "source", "replay", "audit",
      "'2024-01-01'", "3d", "12h", "cast")
    var parsedOk = 0
    (1 to 3000).foreach { _ =>
      val n = 1 + rnd.nextInt(12)
      val stmt = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      try {
        stmt.takeWhile(!_.isWhitespace).toLowerCase match {
          case "select" => CqlParser.parse(stmt)
          case "insert" | "update" | "delete" => CqlParser.parseDml(stmt)
          case "create" | "drop" => CqlParser.parseDdl(stmt)
          case "copy" => CqlParser.parseCopy(stmt)
          case _ => ()
        }
        parsedOk += 1
      } catch {
        case _: graft.cql.CqlInvalidQueryException => () // the contract
        case e: Throwable =>
          fail(s"parser leaked ${e.getClass.getSimpleName} on: $stmt", e)
      }
    }
    assert(parsedOk > 0) // the soup occasionally forms valid statements
  }

  test("fuzz: a full SESSION survives token soup — every statement either " +
    "applies or fails as CqlInvalidQueryException") {
    import graft.cql.CqlSession
    val s = CqlSession(spark)
    val rnd = new scala.util.Random(20260817L)
    val vocab = Array("select", "from", "where", "insert", "into", "values",
      "update", "set", "delete", "create", "drop", "alter", "table",
      "keyspace", "use", "compact", "snapshot", "clear", "describe",
      "truncate", "grant", "revoke", "list", "roles", "with", "replication",
      "durable_writes", "=", "{", "}", "(", ")", ",", ":", ";", "'x'",
      "42", "users", "user_id", "ksf", "default", "system", "as", "if",
      "not", "exists", "primary", "key", "bigint", "text",
      "'SimpleStrategy'", "'class'", "'replication_factor'", "1",
      // round-10 verbs + operator expressions in statement position
      "source", "replay", "audit", "on", "off", "+", "-", "*", "/", "%",
      "'missing.cql'", "now", "totimestamp", "3d")
    s.execute("CREATE TABLE fz (k bigint PRIMARY KEY, v text)")
    // every 100th statement is a known-valid write, proving the session
    // keeps functioning MID-storm, not just after it
    var applied = 0
    (1 to 1500).foreach { i =>
      val stmt =
        // the probe is keyspace-QUALIFIED: the soup can legally emit
        // `USE system`, which would re-target a bare name
        if (i % 100 == 0) s"INSERT INTO default.fz (k, v) VALUES ($i, 'u')"
        else Seq.fill(1 + rnd.nextInt(10))(
          vocab(rnd.nextInt(vocab.length))).mkString(" ")
      try { s.execute(stmt); applied += 1 }
      catch {
        case _: graft.cql.CqlInvalidQueryException => () // the contract
        case e: Throwable =>
          fail(s"session leaked ${e.getClass.getSimpleName} on: $stmt", e)
      }
    }
    assert(applied >= 15)
    // the session is still fully functional after the storm (re-anchor
    // the keyspace first — the soup may have USE'd another one)
    s.execute("USE default")
    s.execute("INSERT INTO fz (k, v) VALUES (1, 'alive')")
    assert(s.execute("SELECT v FROM fz WHERE k = 1")
      .head().getString(0) === "alive")
    assert(s.execute("SELECT count(*) FROM fz").head().getLong(0) >= 16L)
  }

  // -- clustering-restriction guardrails (ClusteringColumnRestrictions [U]) --

  test("guardrail: clustering restriction demands a restricted partition key") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT * FROM lineitem WHERE l_linenumber = 1")
    }
    assert(e.getMessage.contains("ALLOW FILTERING"))
    assert(cqlEngine.execute(
      "SELECT count(*) AS n FROM lineitem WHERE l_linenumber = 1 ALLOW FILTERING")
      .head().getLong(0) > 0)
  }

  test("guardrail: gapped clustering prefix is rejected, contiguous passes") {
    // events clustering = (ts, event_id): event_id without ts is a gap
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute(
        "SELECT * FROM events WHERE user_id = 5 AND event_id = 10")
    }
    assert(e.getMessage.contains("preceding column ts is not restricted"))
    // the same restriction runs as a filtering scan when asked to
    cqlEngine.execute("SELECT count(*) AS n FROM events WHERE user_id = 5 " +
      "AND event_id = 10 ALLOW FILTERING").collect()
  }

  test("guardrail: only the last restricted clustering column may be a range") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT * FROM events WHERE user_id = 5 " +
        "AND ts > '2024-01-01' AND event_id = 10")
    }
    assert(e.getMessage.contains("non-EQ relation"))
    // range on the LAST restricted clustering column is the legal slice
    cqlEngine.execute("SELECT count(*) AS n FROM events WHERE user_id = 5 " +
      "AND ts > '2024-01-01'").collect()
    // and EQ-before-range over the full prefix is legal too
    cqlEngine.execute("SELECT count(*) AS n FROM lineitem " +
      "WHERE l_orderkey = 1 AND l_linenumber >= 2").collect()
  }

  private def tupleEngine = {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 10L, "a"), (1L, 1L, 20L, "b"), (1L, 2L, 10L, "c"),
      (1L, 2L, 30L, "d"), (2L, 1L, 10L, "e")).toDF("pk", "ck1", "ck2", "v")
    new CqlEngine(spark,
      Map("tt" -> CqlTable(df, Seq("pk"), Seq("ck1", "ck2"))))
  }

  test("multi-column IN: (ck1, ck2) IN over value tuples") {
    val eng = tupleEngine
    assert(eng.execute("SELECT v FROM tt WHERE pk = 1 " +
      "AND (ck1, ck2) IN ((1, 10), (2, 30))")
      .collect().map(_.getString(0)).sorted === Array("a", "d"))
    // IN () is valid and matches nothing, like the single-column form
    assert(eng.execute(
      "SELECT v FROM tt WHERE pk = 1 AND (ck1, ck2) IN ()").count() === 0)
    // without a fully restricted partition key the gate holds…
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM tt WHERE (ck1, ck2) IN ((1, 10))")
    }.getMessage.contains("ALLOW FILTERING"))
    // …and ALLOW FILTERING lifts it
    assert(eng.execute("SELECT v FROM tt WHERE (ck1, ck2) IN ((1, 10)) " +
      "ALLOW FILTERING").collect().map(_.getString(0)).sorted ===
      Array("a", "e"))
  }

  test("multi-column relation guardrails: columns, order, prefix, arity") {
    val eng = tupleEngine
    // clustering columns only
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM tt WHERE (pk, ck1) > (1, 1) ALLOW FILTERING")
    }.getMessage.contains("clustering columns"))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM tt WHERE (ck1, v) = (1, 'a') ALLOW FILTERING")
    }.getMessage.contains("clustering columns"))
    // no reordering
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM tt WHERE pk = 1 AND (ck2, ck1) > (1, 1)")
    }.getMessage.contains("skipped or reordered"))
    // a tuple starting past ck1 needs ck1 EQ-restricted first
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM tt WHERE pk = 1 AND (ck2) > (10)")
    }.getMessage.contains("preceding column"))
    assert(eng.execute("SELECT v FROM tt WHERE pk = 1 AND ck1 = 2 " +
      "AND (ck2) > (10)").collect().map(_.getString(0)) === Array("d"))
    // arity must match the column count, in both relation and IN forms
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM tt WHERE pk = 1 AND (ck1, ck2) > (1)")
    }.getMessage.contains("Expected 2 elements"))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM tt WHERE pk = 1 AND (ck1, ck2) IN ((1, 2, 3))")
    }.getMessage.contains("Expected 2 elements"))
    // the relation form still slices in clustering order
    assert(eng.execute("SELECT v FROM tt WHERE pk = 1 " +
      "AND (ck1, ck2) >= (2, 10)").collect().map(_.getString(0)).sorted ===
      Array("c", "d"))
  }

  test("SELECT DISTINCT: partition key and static columns only, all pk parts") {
    import spark.implicits._
    val df = Seq((1L, 10L, 1L, "a"), (1L, 10L, 2L, "b"), (2L, 20L, 1L, "c"))
      .toDF("pk1", "pk2", "ck", "v")
    val eng = new CqlEngine(spark,
      Map("dt" -> CqlTable(df, Seq("pk1", "pk2"), Seq("ck"))))
    // one row per partition
    assert(eng.execute("SELECT DISTINCT pk1, pk2 FROM dt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted ===
      Array((1L, 10L), (2L, 20L)))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT DISTINCT pk1 FROM dt")
    }.getMessage.contains("missing pk2"))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT DISTINCT pk1, pk2, v FROM dt")
    }.getMessage.contains("partition key columns and/or static columns"))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT DISTINCT * FROM dt")
    }.getMessage.contains("partition key columns and/or static columns"))
    // a static column rides along (upstream: per-partition value)
    val sEng = new CqlEngine(spark, Map("st" -> CqlTable(
      Seq((1L, "s1", 1L, "a"), (1L, "s1", 2L, "b")).toDF("pk", "s", "ck", "v"),
      Seq("pk"), Seq("ck"), staticKeys = Seq("s"))))
    assert(sEng.execute("SELECT DISTINCT pk, s FROM st")
      .collect().map(r => (r.getLong(0), r.getString(1))) ===
      Array((1L, "s1")))
  }

  test("composite-key token(): all components in partition key order") {
    import spark.implicits._
    val df = Seq((1L, 10L, 1L, "a"), (2L, 20L, 1L, "b"), (3L, 30L, 1L, "c"))
      .toDF("pk1", "pk2", "ck", "v")
    val eng = new CqlEngine(spark,
      Map("comp2" -> CqlTable(df, Seq("pk1", "pk2"), Seq("ck"))))
    // token() must name every component, in declaration order
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM comp2 WHERE token(pk1) > 0")
    }.getMessage.contains("partition key order"))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM comp2 WHERE token(pk2, pk1) > 0")
    }.getMessage.contains("partition key order"))
    assert(intercept[CqlInvalidQueryException] {
      eng.execute("SELECT v FROM comp2 WHERE token(pk1, ck) > 0")
    }.getMessage.contains("can only be applied to the partition key"))
    // the composite ring hash drives both the WHERE slice and the selector
    val toks = df.select(graft.operators.CassandraModel
      .murmurTokenOf(col("pk1"), col("pk2")).as("t"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mid = toks.map(_._1).sorted.apply(1)
    val expect = toks.filter(_._1 > mid).map(_._2).sorted
    assert(eng.execute(
      s"SELECT v FROM comp2 WHERE token(pk1, pk2) > $mid")
      .collect().map(_.getString(0)).sorted === expect)
    assert(eng.execute("SELECT token(pk1, pk2) AS t, v FROM comp2 " +
      "ALLOW FILTERING").collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted === toks.sorted)
  }

  test("plain columns alongside aggregates are the group's first-row " +
    "value (upstream Selection rule)") {
    // GROUP BY with a non-group, non-aggregate column: valid upstream
    val out = cqlEngine.execute(
      "SELECT l_orderkey, l_shipdate, count(*) AS n FROM lineitem " +
        "WHERE l_orderkey = 1 GROUP BY l_orderkey")
    assert(out.columns.toSeq === Seq("l_orderkey", "l_shipdate", "n"))
    assert(out.count() === 1)
    // no GROUP BY at all: SELECT pk, count(*) aggregates the whole set
    val whole = cqlEngine.execute(
      "SELECT l_orderkey, count(*) AS n FROM lineitem " +
        "WHERE l_orderkey = 1").head()
    assert(whole.getLong(0) === 1L && whole.getLong(1) > 0L)
    // SELECT * GROUP BY pk expands to first-row values per column
    val star = cqlEngine.execute(
      "SELECT * FROM lineitem WHERE l_orderkey = 1 GROUP BY l_orderkey")
    assert(star.count() === 1)
    assert(star.columns.contains("l_quantity"))
  }

  test("SELECT *, c is a syntax error (upstream grammar); star cannot " +
    "leak metadata columns") {
    intercept[CqlInvalidQueryException] {
      cqlEngine.execute("SELECT *, l_orderkey FROM lineitem " +
        "WHERE l_orderkey = 1")
    }
  }

  test("an unbound bind marker in a predicate errors cleanly") {
    val e = intercept[CqlInvalidQueryException] {
      cqlEngine.execute(
        "SELECT l_linenumber FROM lineitem WHERE l_orderkey = ?").collect()
    }
    assert(e.getMessage.contains("unbound"))
  }

  test("exponent-only float literals (1e10) parse as doubles") {
    val out = cqlEngine.execute(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice < 1e10 " +
        "ALLOW FILTERING").head()
    assert(out.getLong(0) > 0L)
    // and the bound actually binds: nothing is above 1e10 in the fixture
    val none = cqlEngine.execute(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > 1e10 " +
        "ALLOW FILTERING").head()
    assert(none.getLong(0) === 0L)
  }

  test("integer timestamp arguments to maxtimeuuid/totimestamp are " +
    "epoch MILLISECONDS, not seconds") {
    // events.ts spans 2024-01; 1706745600000 ms = 2024-02-01: every row
    // is before it, none after — a seconds misread would flip this
    val all = cqlEngine.execute(
      "SELECT count(*) AS n FROM events WHERE user_id = 5 AND " +
        "ts < totimestamp(1706745600000)" // ms for 2024-02-01
    ).head().getLong(0)
    val after = cqlEngine.execute(
      "SELECT count(*) AS n FROM events WHERE user_id = 5 AND " +
        "ts > totimestamp(1706745600000)").head().getLong(0)
    val part = cqlEngine.execute(
      "SELECT count(*) AS n FROM events WHERE user_id = 5")
      .head().getLong(0)
    assert(all === part && after === 0L && part > 0L)
  }

  test("paging: an exact-multiple row count yields no spurious empty " +
    "page, and next() after exhaustion throws") {
    val part = cqlEngine.execute(
      "SELECT count(*) AS n FROM lineitem WHERE l_orderkey = 1")
      .head().getLong(0).toInt
    assert(part > 1)
    val pager = cqlEngine.executePaged(
      "SELECT l_linenumber FROM lineitem WHERE l_orderkey = 1", part)
    assert(pager.hasNext)
    assert(pager.next().collect().length === part)
    assert(!pager.hasNext) // exact multiple: NOT one more empty page
    intercept[NoSuchElementException] { pager.next() }
  }

  // ---- Cassandra 4.0 operator expressions (CASSANDRA-11935) ----

  test("arithmetic selectors: precedence, parens, unary minus") {
    val out = cqlEngine.execute(
      "SELECT l_orderkey, l_orderkey + l_linenumber * 2 AS prec, " +
        "(l_orderkey + l_linenumber) * 2 AS paren, " +
        "-l_linenumber + 10 AS neg " +
        "FROM lineitem WHERE l_orderkey = 1")
    // a pinned partition reads in clustering order (l_linenumber ASC)
    val native = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") === 1).orderBy("l_linenumber")
      .select(col("l_orderkey"),
        (col("l_orderkey") + col("l_linenumber") * 2).as("prec"),
        ((col("l_orderkey") + col("l_linenumber")) * 2).as("paren"),
        (-col("l_linenumber") + 10).as("neg"))
    assert(out.collect().map(_.toSeq).toSeq ===
      native.collect().map(_.toSeq).toSeq)
  }

  test("arithmetic: integral / is integer division (Java truncation), " +
    "double / is IEEE; % is remainder") {
    val out = cqlEngine.execute(
      "SELECT l_linenumber / 2 AS intdiv, l_quantity / 2 AS dbldiv, " +
        "l_linenumber % 3 AS rem " +
        "FROM lineitem WHERE l_orderkey = 1 AND l_linenumber = 3")
    val r = out.head()
    assert(r.getLong(0) === 1L) // 3 div 2 = 1, not 1.5
    val q = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") === 1 && col("l_linenumber") === 3)
      .head().getAs[Double]("l_quantity")
    assert(r.getDouble(1) === q / 2.0)
    assert(r.getLong(2) === 0L)
  }

  test("arithmetic: default result name renders the expression; " +
    "undefined column and non-numeric literal are rejected") {
    val out = cqlEngine.execute(
      "SELECT l_orderkey + 1 FROM lineitem WHERE l_orderkey = 1 LIMIT 1")
    assert(out.columns.toSeq === Seq("l_orderkey + 1"))
    intercept[CqlInvalidQueryException] {
      cqlEngine.execute(
        "SELECT nosuch + 1 FROM lineitem WHERE l_orderkey = 1").collect()
    }
  }

  test("datetime arithmetic: ts ± duration selectors, calendar months, " +
    "folded literal bounds, and type errors (CASSANDRA-11936)") {
    val out = cqlEngine.execute(
      "SELECT event_id, ts + 12h AS later, ts - 30m AS earlier, " +
        "ts + 1mo AS next_month " +
        "FROM events WHERE user_id = 1 LIMIT 5")
    val native = Tables.events(spark, sf).filter(col("user_id") === 1)
      .orderBy("ts", "event_id").limit(5)
      .select(col("event_id"),
        (col("ts") + expr("INTERVAL 12 HOURS")).as("later"),
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("earlier"),
        (col("ts") + expr("INTERVAL 1 MONTH")).as("next_month"))
    assert(out.collect().map(_.toSeq).toSet ===
      native.collect().map(_.toSeq).toSet)
    // a folded '<date>' + duration bound behaves as the shifted literal
    val a = cqlEngine.execute(
      "SELECT count(*) AS n FROM events WHERE user_id = 1 AND " +
        "ts > '2024-01-05' + 2d").head().getLong(0)
    val b = cqlEngine.execute(
      "SELECT count(*) AS n FROM events WHERE user_id = 1 AND " +
        "ts > '2024-01-07'").head().getLong(0)
    assert(a === b && a > 0)
    // dur + ts commutes for +; ts * dur and number + dur are errors
    val c1 = cqlEngine.execute(
      "SELECT 12h + ts AS later FROM events WHERE user_id = 1 LIMIT 1")
    assert(c1.columns.toSeq === Seq("later"))
    intercept[CqlInvalidQueryException] {
      cqlEngine.execute(
        "SELECT ts * 2h FROM events WHERE user_id = 1").collect()
    }
    intercept[CqlInvalidQueryException] {
      cqlEngine.execute(
        "SELECT 5 + 2h AS x FROM events WHERE user_id = 1").collect()
    }
    // duration + duration folds in terms; non-timestamp string rejected
    intercept[CqlInvalidQueryException] {
      cqlEngine.execute(
        "SELECT event_id FROM events WHERE user_id = 1 AND " +
          "ts > 'not-a-date' + 1d").collect()
    }
  }

  test("operators over aggregates: sum/count integral division, " +
    "scalar-fn operands, and the global no-GROUP-BY form") {
    val out = cqlEngine.execute(
      "SELECT sum(l_linenumber) / count(*) AS avg_ln, " +
        "max(l_orderkey) % 97 AS mk " +
        "FROM lineitem WHERE l_orderkey = 1")
    val r = out.head()
    val native = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") === 1)
      .agg((sum("l_linenumber").cast("long")).as("s"),
        count(lit(1)).as("n"), max("l_orderkey").as("mx"))
      .head()
    assert(r.getLong(0) === native.getLong(0) / native.getLong(1))
    assert(r.getLong(1) === native.getLong(2) % 97)
    assert(out.columns.toSeq === Seq("avg_ln", "mk"))
    // non-aggregate scalar function as an operand
    val t2 = cqlEngine.execute(
      "SELECT toUnixTimestamp(ts) / 1000 AS secs FROM events " +
        "WHERE user_id = 1 LIMIT 1")
    assert(t2.columns.toSeq === Seq("secs"))
    assert(t2.head().getLong(0) > 1600000000L) // epoch seconds, sane range
  }

  test("arithmetic under GROUP BY follows the first-row pin like any " +
    "non-aggregate selector") {
    val out = cqlEngine.execute(
      "SELECT l_orderkey, l_linenumber + 100 AS shifted, count(*) AS n " +
        "FROM lineitem WHERE l_orderkey IN (1, 3) GROUP BY l_orderkey")
    val rows = out.collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap
    // first row in clustering order, derived from the fixture itself
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey").isin(1, 3))
      .groupBy("l_orderkey")
      .agg((min("l_linenumber") + 100).cast("long").as("shifted"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === expected)
  }
}

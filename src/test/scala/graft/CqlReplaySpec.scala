package graft

import graft.cql.{CqlInvalidQueryException, CqlSession}

/** REPLAY AUDIT determinism checks [U tools/fqltool replay, 4.0]: a
  * session records its full-query log while AUDIT is on; REPLAY AUDIT
  * re-executes the log into a fresh session and reports outcome and
  * state equivalence. For deterministic scripts (explicit or
  * session-clock timestamps — both reproduce), the report must be
  * all-green; the spec composes with CqlHarrySpec's reconcile model by
  * replaying the same kind of colliding-timestamp mutation traffic. */
class CqlReplaySpec extends SparkSpec {

  private def report(s: CqlSession): Map[String, String] =
    s.execute("REPLAY AUDIT").collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap

  test("random colliding-timestamp script replays to an equal state") {
    val rnd = new scala.util.Random(20260814L)
    val sess = CqlSession(spark)
    sess.execute("AUDIT ON")
    sess.execute("CREATE TABLE rep1 (pk bigint PRIMARY KEY, a bigint, b text)")
    for (_ <- 1 to 30) {
      val pk = rnd.nextInt(4)
      val ts = 1 + rnd.nextInt(9)
      rnd.nextInt(4) match {
        case 0 => sess.execute(
          s"INSERT INTO rep1 (pk, a, b) VALUES ($pk, ${rnd.nextInt(5)}, " +
            s"'v${rnd.nextInt(5)}') USING TIMESTAMP $ts")
        case 1 => sess.execute(
          s"UPDATE rep1 USING TIMESTAMP $ts SET a = ${rnd.nextInt(5)} " +
            s"WHERE pk = $pk")
        case 2 => sess.execute(
          s"DELETE b FROM rep1 USING TIMESTAMP $ts WHERE pk = $pk")
        case 3 => sess.execute(
          s"DELETE FROM rep1 USING TIMESTAMP $ts WHERE pk = $pk")
      }
    }
    val r = report(sess)
    assert(r("state_equal") === "true")
    assert(r("outcome_match") === "31/31") // CREATE + 30 mutations
    assert(r("tables_compared") === "n=1")
  }

  test("session-clock timestamps reproduce: no USING TIMESTAMP needed") {
    val sess = CqlSession(spark)
    sess.execute("AUDIT ON")
    sess.execute("CREATE TABLE rep2 (k bigint PRIMARY KEY, v text)")
    sess.execute("INSERT INTO rep2 (k, v) VALUES (1, 'first')")
    sess.execute("INSERT INTO rep2 (k, v) VALUES (1, 'second')") // wins
    sess.execute("INSERT INTO rep2 (k, v) VALUES (2, 'other')")
    sess.execute("DELETE FROM rep2 WHERE k = 2")
    val r = report(sess)
    assert(r("state_equal") === "true")
    assert(r("outcome_match") === "5/5")
  }

  test("recorded failures fail identically on replay") {
    val sess = CqlSession(spark)
    sess.execute("AUDIT ON")
    sess.execute("CREATE TABLE rep3 (k bigint PRIMARY KEY, v bigint)")
    sess.execute("CREATE ROLE rep_reader3 WITH LOGIN = true")
    sess.execute("GRANT SELECT ON rep3 TO rep_reader3")
    sess.execute("INSERT INTO rep3 (k, v) VALUES (1, 10)")
    sess.login("rep_reader3")
    intercept[CqlInvalidQueryException] { // no MODIFY permission
      sess.execute("INSERT INTO rep3 (k, v) VALUES (2, 20)")
    }
    sess.login("cassandra", "cassandra")
    val r = report(sess)
    // DDL + DCL + grant + insert + denied insert — the denial must be
    // reproduced under the replayed role switch, not skipped
    assert(r("state_equal") === "true")
    assert(r("outcome_match") === "5/5")
  }

  private def creport(s: CqlSession): Map[String, String] =
    s.execute("COMPARE AUDIT").collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap

  test("COMPARE AUDIT: deterministic script — every result digest " +
    "reproduces (fqltool compare analogue, r11)") {
    val sess = CqlSession(spark)
    sess.execute("AUDIT ON")
    sess.execute("AUDIT RESULTS ON")
    sess.execute("CREATE TABLE cmp1 (k bigint PRIMARY KEY, v text)")
    sess.execute("INSERT INTO cmp1 (k, v) VALUES (1, 'x')")
    sess.execute("INSERT INTO cmp1 (k, v) VALUES (2, 'y')")
    sess.execute("DELETE FROM cmp1 WHERE k = 2")
    sess.execute("SELECT k, v FROM cmp1")
    val r = creport(sess)
    assert(r("events") === "n=5")
    assert(r("outcome_match") === "5/5")
    assert(r("digest_match") === "5/5")
    assert(r("first_divergence") === "none")
  }

  test("COMPARE AUDIT flags the FIRST diverging statement: a live " +
    "virtual-table read cannot reproduce across sessions") {
    val sess = CqlSession(spark)
    // unrecorded warm-up: skews this session's request_count vs the
    // fresh replay session, so the clients read diverges BY CONSTRUCTION
    sess.execute("SELECT address FROM system_views.clients")
    sess.execute("AUDIT ON")
    sess.execute("AUDIT RESULTS ON")
    sess.execute("CREATE TABLE cmp2 (k bigint PRIMARY KEY, v text)")
    sess.execute("INSERT INTO cmp2 (k, v) VALUES (1, 'x')")
    sess.execute("SELECT request_count FROM system_views.clients")
    sess.execute("SELECT k, v FROM cmp2") // still matches after divergence
    val r = creport(sess)
    assert(r("outcome_match") === "4/4")
    assert(r("digest_match") === "3/4")
    assert(r("first_divergence").contains("system_views.clients"))
  }

  test("COMPARE without AUDIT RESULTS ON degrades to outcome-only; " +
    "COMPARE expects AUDIT; prepared digests ride the template") {
    val sess = CqlSession(spark)
    sess.execute("AUDIT ON")
    sess.execute("CREATE TABLE cmp3 (k bigint PRIMARY KEY, v text)")
    sess.execute("INSERT INTO cmp3 (k, v) VALUES (1, 'x')")
    val r = creport(sess)
    assert(r("digest_match") === "0/0")
    assert(r("outcome_match") === "2/2")
    assert(r("first_divergence") === "none")
    intercept[CqlInvalidQueryException] { sess.execute("COMPARE LOG") }
    // prepared executions digest like plain statements
    sess.execute("AUDIT RESULTS ON")
    val sel = sess.prepare("SELECT v FROM cmp3 WHERE k = ?")
    sel.execute(1L)
    val r2 = creport(sess)
    assert(r2("digest_match") === "1/1")
  }

  test("prepared template re-binds under its prepare-time keyspace") {
    val sess = CqlSession(spark)
    sess.execute("AUDIT ON")
    sess.execute("CREATE KEYSPACE repa WITH replication = " +
      "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    sess.execute("CREATE KEYSPACE repb WITH replication = " +
      "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    sess.execute("CREATE TABLE repa.t (k bigint PRIMARY KEY, v text)")
    sess.execute("CREATE TABLE repb.t (k bigint PRIMARY KEY, v text)")
    sess.execute("USE repa")
    val ins = sess.prepare("INSERT INTO t (k, v) VALUES (?, ?)")
    sess.execute("USE repb") // must not re-target the template
    ins.execute(1L, "landed-in-a")
    sess.execute("USE default")
    val r = report(sess)
    assert(r("state_equal") === "true",
      "replayed prepared insert must land in repa.t as recorded")
    assert(r("tables_compared") === "n=2")
  }

  test("replay compares map-typed tables instead of crashing (r10 review)") {
    val sess = CqlSession(spark)
    sess.execute("AUDIT ON")
    sess.execute("CREATE TABLE repm (k bigint PRIMARY KEY, " +
      "m map<text, bigint>)")
    sess.execute("INSERT INTO repm (k, m) VALUES (1, {'a': 1, 'b': 2})")
    sess.execute("UPDATE repm SET m['c'] = 3 WHERE k = 1")
    val r = report(sess)
    // exceptAll rejects raw map columns; the canonicalized compare must
    // both run AND prove equality
    assert(r("state_equal") === "true")
    assert(r("outcome_match") === "3/3")
  }

  test("SOURCE treats comments as whitespace, not token glue (r10 review)") {
    val sess = CqlSession(spark)
    sess.execute("CREATE TABLE srcws (k bigint PRIMARY KEY, v text)")
    sess.execute("INSERT INTO srcws (k, v) VALUES (1, 'x')")
    val f = java.nio.file.Files.createTempFile("graft-srcws", ".cql")
    // the comment ends the line MID-STATEMENT: "srcws--note\nWHERE"
    // must split as "srcws WHERE", not the glued "srcwsWHERE"
    java.nio.file.Files.write(f,
      "SELECT v FROM srcws--trailing note\nWHERE k = 1;\n".getBytes("UTF-8"))
    val rows = sess.execute(s"SOURCE '${f.toString}'").collect()
    assert(rows.length === 1)
    assert(rows.head.getBoolean(2), s"statement failed: ${rows.head}")
    // a BEGIN BATCH … APPLY BATCH block is ONE statement: both rows or
    // neither
    java.nio.file.Files.write(f, ("BEGIN BATCH " +
      "INSERT INTO srcws (k, v) VALUES (5, 'x'); " +
      "INSERT INTO srcws (k, v) VALUES (6, 'y'); APPLY BATCH;\n")
      .getBytes("UTF-8"))
    val batch = sess.execute(s"SOURCE '${f.toString}'").collect()
    assert(batch.length === 1)
    assert(batch.head.getBoolean(2), s"batch failed: ${batch.head}")
    assert(sess.execute("SELECT k FROM srcws").collect().map(_.getLong(0))
      .sorted.toSeq === Seq(1L, 5L, 6L))
  }

  test("replay into an empty fresh session reports inequality honestly") {
    val sess = CqlSession(spark)
    // nothing recorded (audit off) but the source session has a table:
    // the fresh session can't reproduce it
    sess.execute("CREATE TABLE rep5 (k bigint PRIMARY KEY)")
    val r = report(sess)
    assert(r("events") === "n=0")
    assert(r("state_equal") === "false")
  }
}

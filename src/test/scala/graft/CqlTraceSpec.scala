package graft

import graft.cql.{CqlInvalidQueryException, CqlSession}

class CqlTraceSpec extends SparkSpec {

  test("TRACING ON records sessions and phase events; OFF stops") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tr_t (k bigint PRIMARY KEY, v text)")
    // untraced by default
    s.execute("INSERT INTO tr_t (k, v) VALUES (1, 'a')")
    assert(s.execute("SELECT count(*) FROM system_traces.sessions")
      .head().getLong(0) === 0L)
    assert(!s.tracingEnabled)
    s.execute("TRACING ON")
    assert(s.tracingEnabled)
    s.execute("INSERT INTO tr_t (k, v) VALUES (2, 'b')")
    s.execute("SELECT v FROM tr_t WHERE k = 2")
    s.execute("TRACING OFF")
    val sess = s.execute("SELECT command, duration, request " +
      "FROM system_traces.sessions").collect()
    assert(sess.length === 2)
    assert(sess.forall(_.getString(0) === "QUERY"))
    assert(sess.forall(_.getInt(1) >= 0))
    assert(sess.exists(_.getString(2).startsWith("INSERT INTO tr_t")))
    assert(sess.exists(_.getString(2).startsWith("SELECT v FROM tr_t")))
    // each traced session carries parse + completion events with
    // nondecreasing real elapsed offsets
    val ev = s.execute("SELECT session_id, event_id, activity, " +
      "source_elapsed FROM system_traces.events").collect()
    assert(ev.length === 5) // + the SELECT's read-path event
    ev.groupBy(_.getString(0)).foreach { case (_, es) =>
      val sorted = es.sortBy(_.getString(1))
      assert(sorted.head.getString(2).startsWith("Parsing"))
      assert(sorted.last.getInt(3) >= sorted.head.getInt(3))
    }
    assert(ev.exists(_.getString(2) == "Applied mutation to the upsert log"))
    assert(ev.exists(_.getString(2) ==
      "Computed Catalyst plan for statement"))
    assert(ev.exists(_.getString(2) == "Read path: driver partition fold " +
      "(1 log rows scanned, 1 rows out)"))
    // OFF: no further rows
    s.execute("INSERT INTO tr_t (k, v) VALUES (3, 'c')")
    assert(s.execute("SELECT count(*) FROM system_traces.sessions")
      .head().getLong(0) === 2L)
  }

  test("engineView reads the trace tables live") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tr_ev (k bigint PRIMARY KEY)")
    s.execute("TRACING ON")
    s.execute("SELECT k FROM tr_ev WHERE k = 1")
    s.execute("TRACING OFF")
    assert(s.engineView.execute("SELECT count(*) FROM system_traces.sessions")
      .head().getLong(0) === 1L)
  }

  test("a failed statement still leaves its trace; bad TRACING arg errors") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tr_f (k bigint PRIMARY KEY)")
    s.execute("TRACING ON")
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT nope FROM tr_f")
    }
    s.execute("TRACING OFF")
    val ev = s.execute("SELECT activity FROM system_traces.events")
      .collect().map(_.getString(0))
    assert(ev.exists(_.startsWith("Request failed")))
    intercept[CqlInvalidQueryException] { s.execute("TRACING maybe") }
    // bare TRACING reports state without toggling (cqlsh behavior)
    assert(!s.execute("TRACING").head().getBoolean(0))
  }

  test("only genuine trace reads skip tracing, not statements that " +
    "mention the keyspace in a literal") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tr_lit (k bigint PRIMARY KEY, note text)")
    s.execute("TRACING ON")
    s.execute("INSERT INTO tr_lit (k, note) VALUES " +
      "(1, 'see system_traces. docs')")
    s.execute("TRACING OFF")
    val reqs = s.execute("SELECT request FROM system_traces.sessions")
      .collect().map(_.getString(0))
    assert(reqs.exists(_.startsWith("INSERT INTO tr_lit")))
  }

  test("CONSISTENCY and SHOW session commands; CL lands in trace " +
    "parameters; SHOW SESSION prints a recorded trace") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tr_sh (k bigint PRIMARY KEY)")
    // defaults + report form
    assert(s.execute("CONSISTENCY").head().getString(0) === "ONE")
    assert(s.execute("CONSISTENCY QUORUM").head().getString(0) === "QUORUM")
    intercept[CqlInvalidQueryException] { s.execute("CONSISTENCY SOMETIMES") }
    val v = s.execute("SHOW VERSION").head()
    assert(v.getString(1) === "5.0-graft" && v.getString(2) === "3.4.7")
    assert(s.execute("SHOW HOST").head().getString(2) === "graft")
    // the session CL is recorded into trace parameters (upstream shape)
    s.execute("TRACING ON")
    s.execute("INSERT INTO tr_sh (k) VALUES (1)")
    s.execute("TRACING OFF")
    val sess = s.execute("SELECT session_id, parameters " +
      "FROM system_traces.sessions").head()
    assert(sess.getMap[String, String](1).get("consistency_level")
      .contains("QUORUM"))
    // SHOW SESSION replays the recorded events for that id
    val shown = s.execute(s"SHOW SESSION ${sess.getString(0)}").collect()
    assert(shown.length === 2)
    assert(shown.exists(_.getString(2).startsWith("Parsing")))
    intercept[CqlInvalidQueryException] { s.execute("SHOW SESSION") }
    intercept[CqlInvalidQueryException] { s.execute("SHOW ME") }
  }

  test("prepared executions trace under command EXECUTE") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tr_p (k bigint PRIMARY KEY, v bigint)")
    val ins = s.prepare("INSERT INTO tr_p (k, v) VALUES (?, ?)")
    s.execute("TRACING ON")
    ins.execute(1L, 10L)
    ins.execute(2L, 20L)
    s.execute("TRACING OFF")
    val sess = s.execute("SELECT command, request " +
      "FROM system_traces.sessions").collect()
    assert(sess.length === 2)
    assert(sess.forall(_.getString(0) === "EXECUTE"))
    assert(sess.forall(_.getString(1) ===
      "INSERT INTO tr_p (k, v) VALUES (?, ?)"))
    val acts = s.execute("SELECT activity FROM system_traces.events")
      .collect().map(_.getString(0))
    assert(acts.count(_.startsWith("Executing prepared statement")) === 2)
    assert(acts.count(_ == "Executed prepared statement") === 2)
  }
}

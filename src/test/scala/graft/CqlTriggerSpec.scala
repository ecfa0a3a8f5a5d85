package graft

import graft.cql.{CqlInvalidQueryException, CqlSession, GraftTrigger}

/** Spec trigger: mirrors every mutation on the base table into
  * `audit_log`, keyed by (row key, mutation writetime) — the canonical
  * upstream trigger example [U examples/triggers/AuditTrigger]. */
class AuditTrigger extends GraftTrigger {
  override def augment(table: String, row: Map[String, Any]): Seq[String] =
    Seq(s"INSERT INTO audit_log (k, wt, tbl, was_delete) VALUES " +
      s"(${row("k")}, ${row("_writetime")}, '$table', ${row("_deleted")})")
}

/** Spec trigger that adds nothing: putting it on a table routes catalog
  * deltas down the per-row replay, the apply path of trigger tables. */
class NoopTrigger extends GraftTrigger {
  override def augment(table: String, row: Map[String, Any]): Seq[String] =
    Nil
}

/** Spec trigger whose augmented mutation is invalid — used to pin the
  * all-or-nothing contract (the original write must not survive). */
class BrokenTrigger extends GraftTrigger {
  override def augment(table: String, row: Map[String, Any]): Seq[String] =
    Seq("INSERT INTO no_such_table (k) VALUES (1)")
}

/** Mirrors audit_log mutations into audit_log2 — only ever fires for
  * DIRECT writes to audit_log, never for trigger-augmented ones. */
class CascadeTrigger extends GraftTrigger {
  override def augment(table: String, row: Map[String, Any]): Seq[String] =
    Seq(s"INSERT INTO audit_log2 (k, wt) VALUES " +
      s"(${row("k")}, ${row("_writetime")})")
}

/** Fails only for k = 4 — pins BATCH/IN-expansion all-or-nothing. */
class PickyTrigger extends GraftTrigger {
  override def augment(table: String, row: Map[String, Any]): Seq[String] =
    if (row("k") == 4L) Seq("INSERT INTO no_such_table (k) VALUES (1)")
    else Nil
}

class NotATrigger // deliberately does not implement GraftTrigger

class CqlTriggerSpec extends SparkSpec {

  private def freshAudit(s: CqlSession): Unit = {
    s.execute("CREATE TABLE audit_log (k bigint, wt bigint, tbl text, " +
      "was_delete boolean, PRIMARY KEY (k, wt))")
  }

  test("a trigger fires on INSERT/UPDATE/DELETE and on applied LWT only") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE trg_t (k bigint PRIMARY KEY, v text)")
    freshAudit(s)
    s.execute("CREATE TRIGGER audit ON trg_t USING 'graft.AuditTrigger'")
    s.execute("INSERT INTO trg_t (k, v) VALUES (1, 'a')")
    s.execute("UPDATE trg_t SET v = 'b' WHERE k = 1")
    s.execute("DELETE FROM trg_t WHERE k = 1")
    assert(s.execute("SELECT count(*) FROM audit_log").head()
      .getLong(0) === 3L)
    assert(s.execute("SELECT count(*) FROM audit_log WHERE " +
      "was_delete = true ALLOW FILTERING").head().getLong(0) === 1L)
    // LWT: only an APPLIED conditional write reaches the trigger
    s.execute("INSERT INTO trg_t (k, v) VALUES (2, 'x') IF NOT EXISTS")
    s.execute("INSERT INTO trg_t (k, v) VALUES (2, 'y') IF NOT EXISTS")
    assert(s.execute("SELECT count(*) FROM audit_log").head()
      .getLong(0) === 4L)
    // a BATCH audits each statement
    s.execute("BEGIN BATCH " +
      "INSERT INTO trg_t (k, v) VALUES (3, 'c'); " +
      "INSERT INTO trg_t (k, v) VALUES (4, 'd'); " +
      "APPLY BATCH")
    assert(s.execute("SELECT count(*) FROM audit_log").head()
      .getLong(0) === 6L)
    // DROP TRIGGER stops the firing
    s.execute("DROP TRIGGER audit ON trg_t")
    s.execute("INSERT INTO trg_t (k, v) VALUES (5, 'e')")
    assert(s.execute("SELECT count(*) FROM audit_log").head()
      .getLong(0) === 6L)
  }

  test("a failing augmented mutation aborts the whole write") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE trg_fail (k bigint PRIMARY KEY, v text)")
    s.execute("CREATE TRIGGER boom ON trg_fail USING 'graft.BrokenTrigger'")
    intercept[CqlInvalidQueryException] {
      s.execute("INSERT INTO trg_fail (k, v) VALUES (1, 'a')")
    }
    // all-or-nothing: the original row must not have been applied
    assert(s.execute("SELECT count(*) FROM trg_fail").head()
      .getLong(0) === 0L)
  }

  test("a trigger failing mid-BATCH or mid-IN-expansion aborts ALL " +
    "statements (statement-level rollback)") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE trg_atom (k bigint PRIMARY KEY, v text)")
    s.execute("CREATE TRIGGER picky ON trg_atom USING 'graft.PickyTrigger'")
    // k=3 applies cleanly first, k=4's trigger fails second — the batch
    // must leave NO rows behind
    intercept[CqlInvalidQueryException] {
      s.execute("BEGIN BATCH " +
        "INSERT INTO trg_atom (k, v) VALUES (3, 'a'); " +
        "INSERT INTO trg_atom (k, v) VALUES (4, 'b'); " +
        "APPLY BATCH")
    }
    assert(s.execute("SELECT count(*) FROM trg_atom").head()
      .getLong(0) === 0L)
    // same for a multi-key IN-expanded write
    s.execute("INSERT INTO trg_atom (k, v) VALUES (3, 'pre')")
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE trg_atom SET v = 'x' WHERE k IN (3, 4)")
    }
    assert(s.execute("SELECT v FROM trg_atom WHERE k = 3").head()
      .getString(0) === "pre")
  }

  test("augmented mutations never cascade into other triggers") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE trg_base (k bigint PRIMARY KEY, v text)")
    freshAudit(s)
    s.execute("CREATE TABLE audit_log2 (k bigint, wt bigint, " +
      "PRIMARY KEY (k, wt))")
    s.execute("CREATE TRIGGER audit ON trg_base USING 'graft.AuditTrigger'")
    s.execute("CREATE TRIGGER cascade ON audit_log " +
      "USING 'graft.CascadeTrigger'")
    s.execute("INSERT INTO trg_base (k, v) VALUES (1, 'a')")
    // the base write audited into audit_log…
    assert(s.execute("SELECT count(*) FROM audit_log").head()
      .getLong(0) === 1L)
    // …but the augmented audit_log write did NOT re-fire triggers
    assert(s.execute("SELECT count(*) FROM audit_log2").head()
      .getLong(0) === 0L)
    // a DIRECT write to audit_log still fires its trigger
    s.execute("INSERT INTO audit_log (k, wt, tbl, was_delete) VALUES " +
      "(9, 9, 'manual', false)")
    assert(s.execute("SELECT count(*) FROM audit_log2").head()
      .getLong(0) === 1L)
  }

  test("trigger DDL validates class, table, duplicates, and superuser") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE trg_v (k bigint PRIMARY KEY)")
    val eClass = intercept[CqlInvalidQueryException] {
      s.execute("CREATE TRIGGER t1 ON trg_v USING 'no.such.Class'")
    }
    assert(eClass.getMessage.contains("doesn't exist"))
    val eIface = intercept[CqlInvalidQueryException] {
      s.execute("CREATE TRIGGER t1 ON trg_v USING 'graft.NotATrigger'")
    }
    assert(eIface.getMessage.contains("does not implement"))
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE TRIGGER t1 ON no_table USING 'graft.AuditTrigger'")
    }
    s.execute("CREATE TRIGGER t1 ON trg_v USING 'graft.AuditTrigger'")
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE TRIGGER t1 ON trg_v USING 'graft.AuditTrigger'")
    }
    s.execute("CREATE TRIGGER IF NOT EXISTS t1 ON trg_v " +
      "USING 'graft.AuditTrigger'") // no-op, no error
    intercept[CqlInvalidQueryException] {
      s.execute("DROP TRIGGER nope ON trg_v")
    }
    s.execute("DROP TRIGGER IF EXISTS nope ON trg_v") // no-op, no error
    // superuser-only, even with keyspace CREATE granted
    s.execute("CREATE ROLE trg_role WITH LOGIN = true")
    s.execute("GRANT CREATE ON KEYSPACE default TO trg_role")
    s.login("trg_role")
    val ePerm = intercept[CqlInvalidQueryException] {
      s.execute("CREATE TRIGGER t2 ON trg_v USING 'graft.AuditTrigger'")
    }
    assert(ePerm.getMessage.contains("superusers"))
    s.login("cassandra", "cassandra")
  }

  test("triggers appear in system_schema.triggers and DESCRIBE; DROP " +
    "TABLE cleans them up") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE trg_meta (k bigint PRIMARY KEY)")
    s.execute("CREATE TRIGGER m1 ON trg_meta USING 'graft.AuditTrigger'")
    val row = s.execute("SELECT table_name, trigger_name, options " +
      "FROM system_schema.triggers").head()
    assert(row.getString(0) === "trg_meta" && row.getString(1) === "m1")
    assert(row.getMap[String, String](2).get("class")
      .contains("graft.AuditTrigger"))
    val dump = s.execute("DESCRIBE SCHEMA").collect()
      .map(_.toSeq.mkString(" ")).mkString("\n")
    assert(dump.contains("CREATE TRIGGER m1 ON trg_meta " +
      "USING 'graft.AuditTrigger'"))
    s.execute("DROP TABLE trg_meta")
    assert(s.execute("SELECT count(*) FROM system_schema.triggers")
      .head().getLong(0) === 0L)
  }
}

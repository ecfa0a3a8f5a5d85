package graft

import graft.cql.{CqlInvalidQueryException, CqlSession}

/** Auth/role DDL + enforcement (upstream `auth/`,
  * `cql3/statements/CreateRoleStatement.java`,
  * `GrantPermissionsStatement.java` [U]): role registry, GRANT/REVOKE over
  * the data/roles resource hierarchies, statement-time permission checks,
  * superuser bypass, and the `system_views` runtime virtual tables. */
class CqlAuthSpec extends SparkSpec {

  test("roles: create, list, alter, drop; login rules") {
    val s = CqlSession(spark)
    s.execute("CREATE ROLE analyst WITH PASSWORD = 'pw1' AND LOGIN = true")
    s.execute("CREATE ROLE batch_bot WITH LOGIN = false")
    s.execute("CREATE ROLE admin2 WITH SUPERUSER = true AND LOGIN = true")
    // IF NOT EXISTS is idempotent; bare re-create throws
    s.execute("CREATE ROLE IF NOT EXISTS analyst")
    intercept[CqlInvalidQueryException] { s.execute("CREATE ROLE analyst") }
    val roles = s.execute("LIST ROLES").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    assert(roles.contains(("analyst", false, true)))
    assert(roles.contains(("batch_bot", false, false)))
    assert(roles.contains(("admin2", true, true)))
    assert(roles.contains(("cassandra", true, true)))
    // login: wrong password, no-login role, unknown role all rejected
    intercept[CqlInvalidQueryException] { s.login("analyst", "wrong") }
    intercept[CqlInvalidQueryException] { s.login("batch_bot") }
    intercept[CqlInvalidQueryException] { s.login("ghost") }
    s.login("analyst", "pw1")
    assert(s.currentUser === "analyst")
    s.login("cassandra", "cassandra")
    s.execute("ALTER ROLE batch_bot WITH LOGIN = true")
    s.login("batch_bot")
    s.login("cassandra", "cassandra")
    s.execute("DROP ROLE batch_bot")
    intercept[CqlInvalidQueryException] { s.login("batch_bot") }
    intercept[CqlInvalidQueryException] { s.execute("DROP ROLE ghost") }
    s.execute("DROP ROLE IF EXISTS ghost") // no-op
  }

  test("a role without MODIFY is rejected on UPDATE; grant unlocks it") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE auth_t (k bigint PRIMARY KEY, v bigint)")
    s.execute("INSERT INTO auth_t (k, v) VALUES (1, 10)")
    s.execute("CREATE ROLE writer WITH LOGIN = true")
    s.execute("GRANT SELECT ON auth_t TO writer")
    s.login("writer")
    // SELECT is granted, MODIFY is not
    assert(s.execute("SELECT v FROM auth_t WHERE k = 1").head()
      .getLong(0) === 10L)
    val e = intercept[CqlInvalidQueryException] {
      s.execute("UPDATE auth_t SET v = 11 WHERE k = 1")
    }
    assert(e.getMessage.contains("MODIFY"))
    // DDL is also closed to the role
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE TABLE auth_t2 (k bigint PRIMARY KEY)")
    }
    s.login("cassandra", "cassandra")
    s.execute("GRANT MODIFY ON auth_t TO writer")
    s.login("writer")
    s.execute("UPDATE auth_t SET v = 11 WHERE k = 1")
    assert(s.execute("SELECT v FROM auth_t WHERE k = 1").head()
      .getLong(0) === 11L)
    s.login("cassandra", "cassandra")
  }

  test("keyspace-level grants cover tables; REVOKE closes access") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE auth_ks1 (k bigint PRIMARY KEY, v bigint)")
    s.execute("CREATE TABLE auth_ks2 (k bigint PRIMARY KEY, v bigint)")
    s.execute("INSERT INTO auth_ks1 (k, v) VALUES (1, 1)")
    s.execute("INSERT INTO auth_ks2 (k, v) VALUES (2, 2)")
    s.execute("CREATE ROLE reader WITH LOGIN = true")
    s.execute("GRANT SELECT ON KEYSPACE default TO reader")
    s.login("reader")
    // the keyspace grant authorizes every table under it
    assert(s.execute("SELECT v FROM auth_ks1 WHERE k = 1").count() === 1)
    assert(s.execute("SELECT v FROM auth_ks2 WHERE k = 2").count() === 1)
    s.login("cassandra", "cassandra")
    s.execute("REVOKE SELECT ON KEYSPACE default FROM reader")
    s.login("reader")
    val e = intercept[CqlInvalidQueryException] {
      s.execute("SELECT v FROM auth_ks1 WHERE k = 1")
    }
    assert(e.getMessage.contains("SELECT"))
    s.login("cassandra", "cassandra")
  }

  test("LIST PERMISSIONS round-trips grants") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE auth_lp (k bigint PRIMARY KEY)")
    s.execute("CREATE ROLE lp_role")
    s.execute("GRANT SELECT, MODIFY ON auth_lp TO lp_role")
    s.execute("GRANT ALL PERMISSIONS ON ALL KEYSPACES TO lp_role")
    val all = s.execute("LIST ALL PERMISSIONS OF lp_role").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(all.contains(("lp_role", "<table default.auth_lp>", "SELECT")))
    assert(all.contains(("lp_role", "<table default.auth_lp>", "MODIFY")))
    assert(all.contains(("lp_role", "<all keyspaces>", "AUTHORIZE")))
    // permission-filtered form; listing is recursive, so the table-level
    // grant AND the inherited all-keyspaces grant both show
    val sel = s.execute(
      "LIST SELECT PERMISSIONS ON auth_lp OF lp_role").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(sel.forall(_._2 == "SELECT"))
    assert(sel.contains(("<table default.auth_lp>", "SELECT")))
    assert(sel.contains(("<all keyspaces>", "SELECT")))
    // resource-filtered: ON ALL KEYSPACES includes keyspace-level grants
    val ks = s.execute(
      "LIST ALL PERMISSIONS ON ALL KEYSPACES OF lp_role").collect()
    assert(ks.length >= 8)
  }

  test("superuser bypass and AUTHORIZE enforcement on GRANT") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE auth_su (k bigint PRIMARY KEY)")
    s.execute("CREATE ROLE plain WITH LOGIN = true")
    s.execute("CREATE ROLE boss WITH SUPERUSER = true AND LOGIN = true")
    // a plain role cannot grant (no AUTHORIZE anywhere)
    s.login("plain")
    intercept[CqlInvalidQueryException] {
      s.execute("GRANT SELECT ON auth_su TO plain")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("CREATE ROLE sneaky")
    }
    // a superuser needs no grants at all
    s.login("cassandra", "cassandra")
    s.login("boss")
    s.execute("INSERT INTO auth_su (k) VALUES (5)")
    assert(s.execute("SELECT k FROM auth_su").count() === 1)
    s.execute("GRANT SELECT ON auth_su TO plain")
    s.login("cassandra", "cassandra")
  }

  test("no side doors: BATCH, prepared statements, COPY and the Spark " +
      "catalog all enforce permissions") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE auth_sd (k bigint PRIMARY KEY, v bigint)")
    s.execute("INSERT INTO auth_sd (k, v) VALUES (1, 1)")
    s.execute("CREATE ROLE sd_role WITH LOGIN = true")
    s.exposeAsCatalog("graft")
    s.login("sd_role")
    // BATCH mutation without MODIFY
    intercept[CqlInvalidQueryException] {
      s.execute("BEGIN BATCH UPDATE auth_sd SET v = 9 WHERE k = 1; " +
        "APPLY BATCH")
    }
    // prepared SELECT without SELECT
    val p = {
      s.login("cassandra", "cassandra")
      val prep = s.prepare("SELECT v FROM auth_sd WHERE k = ?")
      s.login("sd_role"); prep
    }
    intercept[CqlInvalidQueryException] { p.execute(1L) }
    // COPY TO (bulk read) without SELECT
    val dir = java.nio.file.Files.createTempDirectory("auth-copy").toString
    intercept[CqlInvalidQueryException] {
      s.execute(s"COPY auth_sd TO '$dir/out'")
    }
    // the Spark catalog read path carries the same enforcement
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.default.auth_sd").collect()
    }
    assert(e.getMessage.contains("SELECT") ||
      Option(e.getCause).exists(_.getMessage.contains("SELECT")))
    // ... and unlocks with the grant, everywhere
    s.login("cassandra", "cassandra")
    s.execute("GRANT SELECT ON auth_sd TO sd_role")
    s.login("sd_role")
    assert(p.execute(1L).head().getLong(0) === 1L)
    assert(spark.sql("SELECT v FROM graft.default.auth_sd").head()
      .getLong(0) === 1L)
    s.login("cassandra", "cassandra")
  }

  test("system keyspaces are readable without grants (driver handshake)") {
    val s = CqlSession(spark)
    s.execute("CREATE ROLE hs_role WITH LOGIN = true")
    s.login("hs_role")
    // the first thing every driver does — must not need a grant
    assert(s.execute("SELECT cluster_name FROM system.local").count() === 1)
    assert(s.execute(
      "SELECT keyspace_name FROM system_schema.keyspaces").count() >= 1)
    assert(s.execute(
      "SELECT username FROM system_views.clients").head()
      .getString(0) === "hs_role")
    s.login("cassandra", "cassandra")
  }

  test("legacy USER statements alias roles with LOGIN defaulting true") {
    val s = CqlSession(spark)
    s.execute("CREATE USER legacy_u WITH PASSWORD 'pw' NOSUPERUSER")
    s.login("legacy_u", "pw") // users are loginable by default
    s.login("cassandra", "cassandra")
    s.execute("ALTER USER legacy_u WITH PASSWORD 'pw2' SUPERUSER")
    s.login("legacy_u", "pw2")
    s.execute("CREATE TABLE legacy_t (k bigint PRIMARY KEY)") // superuser now
    s.login("cassandra", "cassandra")
    val users = s.execute("LIST USERS").collect()
      .map(_.getString(0)).toSet
    assert(users.contains("legacy_u") && users.contains("cassandra"))
    s.execute("DROP USER legacy_u")
    intercept[CqlInvalidQueryException] { s.login("legacy_u", "pw2") }
  }

  test("CREATE ROLE defaults LOGIN to false, as upstream RoleOptions") {
    val s = CqlSession(spark)
    s.execute("CREATE ROLE svc_acct")
    intercept[CqlInvalidQueryException] { s.login("svc_acct") }
    val row = s.execute("LIST ROLES OF svc_acct").head()
    assert(!row.getBoolean(1) && !row.getBoolean(2))
  }

  test("LIST PERMISSIONS ON a resource does not match prefix siblings; " +
      "DROP ROLE clears grants ON the dropped role") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE lp_t (k bigint PRIMARY KEY)")
    s.execute("CREATE TABLE lp_t2 (k bigint PRIMARY KEY)")
    s.execute("CREATE ROLE lp_r2")
    s.execute("GRANT SELECT ON lp_t TO lp_r2")
    s.execute("GRANT MODIFY ON lp_t2 TO lp_r2")
    // lp_t2 is a name-prefix sibling of lp_t — must NOT be listed
    val on = s.execute("LIST ALL PERMISSIONS ON lp_t OF lp_r2").collect()
      .map(_.getString(1)).toSet
    assert(on === Set("<table default.lp_t>"))
    // permissions granted ON a role die with the role
    s.execute("CREATE ROLE lp_temp")
    s.execute("GRANT ALTER ON ROLE lp_temp TO lp_r2")
    s.execute("DROP ROLE lp_temp")
    s.execute("CREATE ROLE lp_temp") // a brand-new principal
    assert(s.execute("LIST ALL PERMISSIONS OF lp_r2").collect()
      .map(_.getString(1)).forall(_ != "<role lp_temp>"))
  }

  test("role inheritance: GRANT role TO role carries permissions transitively") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE auth_rg (k bigint PRIMARY KEY, v bigint)")
    s.execute("INSERT INTO auth_rg (k, v) VALUES (1, 7)")
    s.execute("CREATE ROLE rg_reader")
    s.execute("CREATE ROLE rg_team")
    s.execute("CREATE ROLE rg_alice WITH LOGIN = true")
    s.execute("GRANT SELECT ON auth_rg TO rg_reader")
    s.execute("GRANT rg_reader TO rg_team")
    s.execute("GRANT rg_team TO rg_alice")
    // alice inherits SELECT through team -> reader
    s.login("rg_alice")
    assert(s.execute("SELECT v FROM auth_rg WHERE k = 1").head()
      .getLong(0) === 7L)
    intercept[CqlInvalidQueryException] { // nothing grants MODIFY
      s.execute("UPDATE auth_rg SET v = 8 WHERE k = 1")
    }
    s.login("cassandra", "cassandra")
    // the effective identity lists transitively
    val of = s.execute("LIST ROLES OF rg_alice").collect()
      .map(_.getString(0)).toSet
    assert(of === Set("rg_alice", "rg_team", "rg_reader"))
    // circular grants rejected; revocation cuts the chain
    intercept[CqlInvalidQueryException] {
      s.execute("GRANT rg_alice TO rg_reader")
    }
    s.execute("REVOKE rg_reader FROM rg_team")
    s.login("rg_alice")
    intercept[CqlInvalidQueryException] {
      s.execute("SELECT v FROM auth_rg WHERE k = 1")
    }
    s.login("cassandra", "cassandra")
    // superuser status inherits too
    s.execute("CREATE ROLE rg_admins WITH SUPERUSER = true")
    s.execute("GRANT rg_admins TO rg_alice")
    s.login("rg_alice")
    s.execute("CREATE TABLE auth_rg2 (k bigint PRIMARY KEY)") // no grant needed
    s.login("cassandra", "cassandra")
  }

  test("system_views.settings and clients read through the text path") {
    val s = CqlSession(spark)
    val settings = s.execute(
      "SELECT name, value FROM system_views.settings").collect()
    assert(settings.nonEmpty)
    assert(settings.map(_.getString(0)).toSet
      .contains("spark.sql.session.timeZone"))
    val cli = s.execute("SELECT username, request_count, connection_stage " +
      "FROM system_views.clients").head()
    assert(cli.getString(0) === "cassandra")
    assert(cli.getLong(1) >= 1L) // this session issued at least this read
    assert(cli.getString(2) === "ready")
    // the request counter is LIVE: a later read sees a larger count
    val n1 = s.execute(
      "SELECT request_count FROM system_views.clients").head().getLong(0)
    s.execute("SELECT name FROM system_views.settings LIMIT 1")
    val n2 = s.execute(
      "SELECT request_count FROM system_views.clients").head().getLong(0)
    assert(n2 > n1)
    // and the authenticated role shows up
    s.execute("CREATE ROLE cli_role WITH LOGIN = true")
    s.execute("GRANT SELECT ON KEYSPACE system_views TO cli_role")
    s.login("cli_role")
    assert(s.execute("SELECT username FROM system_views.clients").head()
      .getString(0) === "cli_role")
    s.login("cassandra", "cassandra")
  }

  test("a prepared read of system_views.settings sees a changed setting") {
    val s = CqlSession(spark)
    val p = s.prepare("SELECT value FROM system_views.settings WHERE name = ?")
    val name = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(name)
    assert(p.execute(name).head().getString(0) === before)
    val changed = (before.toInt + 1).toString
    spark.conf.set(name, changed)
    try assert(p.execute(name).head().getString(0) === changed)
    finally spark.conf.set(name, before)
  }

  test("system_virtual_schema describes the virtual tables themselves") {
    val s = CqlSession(spark)
    val kss = s.execute(
      "SELECT keyspace_name FROM system_virtual_schema.keyspaces")
      .collect().map(_.getString(0)).toSet
    assert(Set("system", "system_views", "system_traces").subsetOf(kss))
    val tbls = s.execute("SELECT keyspace_name, table_name " +
      "FROM system_virtual_schema.tables").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(tbls.contains(("system_views", "settings")))
    assert(tbls.contains(("system_views", "thread_pools")))
    assert(tbls.contains(("system_traces", "sessions")))
    assert(tbls.contains(("system", "size_estimates")))
    // columns carry kinds and CQL type names from the ACTUAL served schema
    val cols = s.execute("SELECT column_name, kind, type " +
      "FROM system_virtual_schema.columns WHERE " +
      "keyspace_name = 'system_views' AND table_name = 'clients' " +
      "ALLOW FILTERING").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(cols("address")._1 === "partition_key")
    assert(cols("request_count")._2 === "bigint")
  }

  test("system_views.thread_pools and caches report live runtime state") {
    val s = CqlSession(spark)
    // run a real Spark job so the completed-task counter has moved
    s.execute("CREATE TABLE tp_t (k bigint PRIMARY KEY, v bigint)")
    s.execute("INSERT INTO tp_t (k, v) VALUES (1, 1)")
    assert(s.execute("SELECT count(*) FROM tp_t").head().getLong(0) === 1L)
    val tp = s.execute("SELECT name, active_tasks, pending_tasks, " +
      "completed_tasks FROM system_views.thread_pools").head()
    assert(tp.getString(0) === "SparkTaskScheduler")
    assert(tp.getLong(1) >= 0L && tp.getLong(2) >= 0L)
    assert(tp.getLong(3) >= 1L) // the count(*) above ran at least one task
    // completed_tasks is LIVE: more work → a larger count
    val c1 = tp.getLong(3)
    assert(s.execute("SELECT count(*) FROM tp_t").head().getLong(0) === 1L)
    val c2 = s.execute("SELECT completed_tasks FROM " +
      "system_views.thread_pools").head().getLong(0)
    assert(c2 > c1)
    val caches = s.execute("SELECT name, entry_count, size_bytes " +
      "FROM system_views.caches").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(caches.keySet === Set("catalog_snapshots", "engine_plan_cache"))
    // exercise the snapshot cache through the Spark catalog, then re-read
    s.exposeAsCatalog("graft")
    spark.sql("SELECT * FROM graft.default.tp_t").collect()
    val after = s.execute("SELECT entry_count, size_bytes FROM " +
      "system_views.caches WHERE name = 'catalog_snapshots'").head()
    assert(after.getLong(0) >= 1L && after.getLong(1) > 0L)
  }

  test("caches counts the engine plan cache the reads before it used") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE pc_t (k bigint PRIMARY KEY, v bigint)")
    s.execute("INSERT INTO pc_t (k, v) VALUES (1, 1)")
    s.execute("SELECT v FROM pc_t WHERE k = 1").collect()
    s.execute("SELECT v FROM pc_t WHERE k = 1").collect()
    assert(s.execute("SELECT entry_count FROM system_views.caches " +
      "WHERE name = 'engine_plan_cache'").head().getLong(0) === 1L)
  }
}

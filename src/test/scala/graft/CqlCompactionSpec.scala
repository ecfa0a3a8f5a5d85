package graft

import graft.cql.{CqlInvalidQueryException, CqlSession}
import org.apache.spark.sql.types._

/** `COMPACT t` — the session's major compaction [U db/compaction/
  * CompactionTask, nodetool compact]: folds the op-log to its surviving
  * subset, materializes one parquet segment, swaps it in as the new
  * base. The contract under test: reconciling the compacted log equals
  * reconciling the full log — for every projection, writetime(), at
  * every future read time, and against LATE-ARRIVING older writes
  * (retained tombstones must still shadow them). */
class CqlCompactionSpec extends SparkSpec {

  test("random mutation scripts: reads and writetimes identical across " +
    "COMPACT, late writes fold identically on a compacted vs full log") {
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 4) {
      // twin sessions replay the SAME script; only one compacts — every
      // later read and write must be indistinguishable between them
      def fresh() = CqlSession.emptyTable(spark, "t", StructType(Seq(
        StructField("pk", LongType), StructField("a", LongType),
        StructField("b", StringType))), partitionKeys = Seq("pk"))
      val (s, twin) = (fresh(), fresh())
      def both(cql: String): Unit = { s.execute(cql); twin.execute(cql); () }
      for (_ <- 1 to 30) {
        val pk = rnd.nextInt(3).toLong
        val ts = 1L + rnd.nextInt(8)
        rnd.nextInt(8) match {
          case 0 =>
            both(s"INSERT INTO t (pk, a, b) VALUES ($pk, " +
              s"${rnd.nextInt(5)}, 'v${rnd.nextInt(5)}') USING TIMESTAMP $ts")
          case 1 =>
            both(s"INSERT INTO t (pk, a) VALUES ($pk, " +
              s"${rnd.nextInt(5)}) USING TIMESTAMP $ts")
          case 2 | 3 =>
            both(s"UPDATE t USING TIMESTAMP $ts SET a = " +
              s"${rnd.nextInt(5)} WHERE pk = $pk")
          case 4 =>
            both(s"UPDATE t USING TIMESTAMP $ts SET b = " +
              s"'v${rnd.nextInt(5)}' WHERE pk = $pk")
          case 5 =>
            both(s"DELETE FROM t USING TIMESTAMP $ts WHERE pk = $pk")
          case 6 =>
            both(s"DELETE a FROM t USING TIMESTAMP $ts WHERE pk = $pk")
          case 7 =>
            both(s"DELETE b FROM t USING TIMESTAMP $ts WHERE pk = $pk")
        }
      }
      def snap(ss: CqlSession) = ss.execute(
        "SELECT pk, a, b, writetime(a) AS wa, writetime(b) AS wb FROM t")
        .collect().map(r => (0 until 5).map(i =>
          if (r.isNullAt(i)) null else r.get(i)).toList)
        .sortBy(_.toString).toList
      val before = snap(s)
      val res = s.execute("COMPACT t").head()
      assert(res.getLong(3) <= res.getLong(2),
        s"round $round: rows_out ${res.getLong(3)} > rows_in")
      assert(snap(s) === before, s"round $round: COMPACT changed the view")
      // late writes at ALREADY-SHADOWED timestamps: the retained
      // tombstones/cells of the compacted log must shadow exactly what
      // the full log shadows — including stale cells that legitimately
      // land because nothing newer ever wrote them
      for (pk <- 0 to 2)
        both(s"UPDATE t USING TIMESTAMP 0 SET a = 999, b = 'stale' " +
          s"WHERE pk = $pk")
      assert(snap(s) === snap(twin),
        s"round $round: compacted log diverged from the full log")
    }
  }

  test("random CLUSTERING-table scripts (row/partition tombstones, " +
    "markers) fold identically on a compacted vs full log") {
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 3) {
      def fresh() = CqlSession.emptyTable(spark, "ct", StructType(Seq(
        StructField("pk", LongType), StructField("ck", LongType),
        StructField("v", LongType))),
        partitionKeys = Seq("pk"), clusteringKeys = Seq("ck"))
      val (s, twin) = (fresh(), fresh())
      def both(cql: String): Unit = { s.execute(cql); twin.execute(cql); () }
      for (_ <- 1 to 40) {
        val (pk, ck) = (rnd.nextInt(2).toLong, rnd.nextInt(3).toLong)
        val ts = 1L + rnd.nextInt(9)
        rnd.nextInt(6) match {
          case 0 | 1 =>
            both(s"INSERT INTO ct (pk, ck, v) VALUES ($pk, $ck, " +
              s"${rnd.nextInt(9)}) USING TIMESTAMP $ts")
          case 2 =>
            both(s"UPDATE ct USING TIMESTAMP $ts SET v = ${rnd.nextInt(9)} " +
              s"WHERE pk = $pk AND ck = $ck")
          case 3 =>
            both(s"DELETE FROM ct USING TIMESTAMP $ts WHERE pk = $pk " +
              s"AND ck = $ck")
          case 4 =>
            both(s"DELETE FROM ct USING TIMESTAMP $ts WHERE pk = $pk")
          case 5 =>
            both(s"DELETE v FROM ct USING TIMESTAMP $ts WHERE pk = $pk " +
              s"AND ck = $ck")
        }
      }
      def snap(ss: CqlSession) = ss.execute(
        "SELECT pk, ck, v, writetime(v) AS wv FROM ct")
        .collect().map(r => (0 until 4).map(i =>
          if (r.isNullAt(i)) null else r.get(i)).toList)
        .sortBy(_.toString).toList
      val before = snap(s)
      s.execute("COMPACT ct")
      assert(snap(s) === before, s"round $round: COMPACT changed the view")
      // post-compact writes at mixed timestamps fold identically
      for (_ <- 1 to 10) {
        val (pk, ck) = (rnd.nextInt(2).toLong, rnd.nextInt(3).toLong)
        val ts = 1L + rnd.nextInt(12)
        both(s"INSERT INTO ct (pk, ck, v) VALUES ($pk, $ck, " +
          s"${rnd.nextInt(9)}) USING TIMESTAMP $ts")
      }
      assert(snap(s) === snap(twin),
        s"round $round: compacted log diverged after late writes")
    }
  }

  test("clustering + static + partition/range tombstones survive COMPACT") {
    val s = CqlSession.emptyTable(spark, "ck",
      StructType(Seq(
        StructField("pk", LongType), StructField("c", LongType),
        StructField("st", StringType), StructField("v", LongType))),
      partitionKeys = Seq("pk"), clusteringKeys = Seq("c"),
      staticKeys = Seq("st"))
    s.execute("INSERT INTO ck (pk, c, st, v) VALUES (1, 1, 's1', 10) " +
      "USING TIMESTAMP 1")
    s.execute("INSERT INTO ck (pk, c, v) VALUES (1, 2, 20) USING TIMESTAMP 2")
    s.execute("INSERT INTO ck (pk, c, v) VALUES (1, 3, 30) USING TIMESTAMP 3")
    s.execute("DELETE FROM ck USING TIMESTAMP 4 WHERE pk = 1 AND c = 2")
    s.execute("INSERT INTO ck (pk, c, v) VALUES (2, 1, 40) USING TIMESTAMP 5")
    s.execute("DELETE FROM ck USING TIMESTAMP 6 WHERE pk = 2") // partition
    s.execute("UPDATE ck USING TIMESTAMP 7 SET st = 's2' WHERE pk = 1")
    def snap() = s.execute("SELECT pk, c, st, v FROM ck").collect()
      .map(r => (0 until 4).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toList)
      .sortBy(_.toString).toList
    val before = snap()
    s.execute("COMPACT ck")
    assert(snap() === before)
    // the retained partition tombstone still shadows a stale row
    s.execute("INSERT INTO ck (pk, c, v) VALUES (2, 9, 90) USING TIMESTAMP 3")
    assert(!snap().exists(_.contains(90L)))
    // a NEWER write past the tombstone lands normally
    s.execute("INSERT INTO ck (pk, c, v) VALUES (2, 9, 91) USING TIMESTAMP 9")
    assert(snap().exists(_.contains(91L)))
  }

  test("collections and counters fold identically across COMPACT") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cc (pk bigint PRIMARY KEY, tags list<text>, " +
      "m map<text, bigint>)")
    s.execute("INSERT INTO cc (pk, tags, m) VALUES (1, ['a'], {'x': 1})")
    s.execute("UPDATE cc SET tags = tags + ['b'], m = m + {'y': 2} " +
      "WHERE pk = 1")
    s.execute("UPDATE cc SET tags = tags - ['a'], m['x'] = 9 WHERE pk = 1")
    s.execute("CREATE TABLE cnt (pk bigint PRIMARY KEY, hits counter)")
    s.execute("UPDATE cnt SET hits = hits + 5 WHERE pk = 1")
    s.execute("UPDATE cnt SET hits = hits + 3 WHERE pk = 1")
    s.execute("UPDATE cnt SET hits = hits - 1 WHERE pk = 1")
    def snapCc() = s.execute("SELECT pk, tags, m FROM cc").collect()
      .map(_.toString).sorted.toList
    def snapCnt() = s.execute("SELECT pk, hits FROM cnt").collect()
      .map(_.toString).sorted.toList
    val (b1, b2) = (snapCc(), snapCnt())
    s.execute("COMPACT cc")
    s.execute("COMPACT TABLE cnt") // the TABLE keyword form
    assert(snapCc() === b1)
    assert(snapCnt() === b2)
    s.execute("UPDATE cnt SET hits = hits + 2 WHERE pk = 1")
    assert(s.execute("SELECT hits FROM cnt WHERE pk = 1").head()
      .getLong(0) === 9L) // 5 + 3 - 1 + 2: increments survive the fold
  }

  test("a TTL'd winner does not purge the older no-TTL cell it shadows") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE tt (pk bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO tt (pk, v) VALUES (1, 'durable') " +
      "USING TIMESTAMP 1000")
    s.execute("INSERT INTO tt (pk, v) VALUES (1, 'ephemeral') " +
      "USING TIMESTAMP 2000 AND TTL 10")
    s.execute("COMPACT tt")
    // while the TTL'd cell lives it wins…
    assert(s.view("tt", nowUs = Some(2000L)).collect()
      .map(_.getString(1)).toSeq === Seq("ephemeral"))
    // …and after expiry the read view falls back to the older cell —
    // which compaction therefore must NOT have dropped
    assert(s.view("tt", nowUs = Some(2000L + 11L * 1000000L)).collect()
      .map(_.getString(1)).toSeq === Seq("durable"))
  }

  test("system_views.disk_usage serves real segment bytes; repeated " +
    "COMPACTs reap the previous generation's directory") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE du (pk bigint PRIMARY KEY, v bigint)")
    for (i <- 1 to 20) s.execute(s"INSERT INTO du (pk, v) VALUES ($i, $i)")
    val before = s.execute("SELECT base_bytes, memtable_rows FROM " +
      "system_views.disk_usage WHERE table_name = 'du' ALLOW FILTERING")
      .head()
    assert(before.getLong(0) === 0L) // nothing materialized yet
    assert(before.getLong(1) === 20L) // the pending memtable rows
    s.execute("COMPACT du")
    val after = s.execute("SELECT base_bytes, memtable_rows FROM " +
      "system_views.disk_usage WHERE table_name = 'du' ALLOW FILTERING")
      .head()
    assert(after.getLong(0) > 0L) // the compacted parquet segment
    assert(after.getLong(1) === 0L) // pending folded into the base
    // a held lazy DataFrame survives the NEXT compaction (the one-
    // generation grace slot)…
    val held = s.execute("SELECT count(*) AS n FROM du")
    s.execute("COMPACT du")
    assert(held.head().getLong(0) === 20L)
    // …and repeated compacts keep at most TWO generations on disk
    // (live + grace) under THIS session's own snapshot root
    for (_ <- 1 to 2) s.execute("COMPACT du")
    val gens = s.execute("SELECT count(*) FROM system.compaction_history " +
      "WHERE columnfamily_name = 'du' ALLOW FILTERING").head().getLong(0)
    assert(gens === 4L)
    val genDirs = Option(new java.io.File(s.store.dirFor(
      graft.storage.DirKind.Compacted, "du", "", 0)).getParentFile
      .listFiles()).getOrElse(Array.empty)
    assert(genDirs.length === 2, genDirs.mkString(", "))
    // snapshot bytes appear in the same row
    s.execute("SNAPSHOT du AS du_snap")
    val snap = s.execute("SELECT snapshot_bytes FROM " +
      "system_views.disk_usage WHERE table_name = 'du' ALLOW FILTERING")
      .head().getLong(0)
    assert(snap > 0L)
    // a bulk-loaded table reports the bytes of its load files before any
    // COMPACT
    s.exposeAsCatalog("graftdu")
    s.execute("CREATE TABLE du_load (pk bigint PRIMARY KEY, v bigint)")
    spark.sql("INSERT INTO graftdu.default.du_load " +
      "SELECT id AS pk, id AS v FROM range(50)")
    val loaded = s.execute("SELECT base_bytes, memtable_rows FROM " +
      "system_views.disk_usage WHERE table_name = 'du_load' ALLOW FILTERING")
      .head()
    assert(loaded.getLong(0) > 0L)
    assert(loaded.getLong(1) === 0L)
  }

  test("compaction_history records the fold; sstable_tasks is empty at " +
    "rest; COMPACT requires MODIFY") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE h (pk bigint PRIMARY KEY, v bigint)")
    for (i <- 1 to 5; _ <- 1 to 3)
      s.execute(s"INSERT INTO h (pk, v) VALUES ($i, ${i * 10})")
    val res = s.execute("COMPACT h").head()
    assert(res.getString(0) === "default" && res.getString(1) === "h")
    assert(res.getLong(2) === 15L && res.getLong(3) === 5L)
    val hist = s.execute("SELECT keyspace_name, columnfamily_name, " +
      "bytes_in, bytes_out, rows_merged FROM system.compaction_history")
      .collect()
    assert(hist.length === 1)
    assert(hist.head.getLong(2) === 15L && hist.head.getLong(3) === 5L)
    assert(hist.head.getMap[Int, Long](4).get(3).contains(5L)) // 5 keys × 3
    assert(s.execute(
      "SELECT * FROM system_views.sstable_tasks").count() === 0L)
    // writes after COMPACT land on the compacted base
    s.execute("INSERT INTO h (pk, v) VALUES (9, 90)")
    assert(s.execute("SELECT count(*) FROM h").head().getLong(0) === 6L)
    // permission: a role without MODIFY is refused
    s.execute("CREATE ROLE nocompact WITH LOGIN = true")
    s.execute("GRANT SELECT ON h TO nocompact")
    s.login("nocompact")
    intercept[CqlInvalidQueryException] { s.execute("COMPACT h") }
    s.login("cassandra", "cassandra")
  }
}

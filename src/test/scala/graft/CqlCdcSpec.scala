package graft

import graft.cql.{CqlInvalidQueryException, CqlSession}
import org.apache.spark.sql.functions._

/** Change-data-capture (4.0 `cdc = true` [U TableParams.cdc,
  * db/commitlog/CommitLogSegmentManagerCDC]): committed mutations of a
  * cdc-enabled table land as commit-ordered segments a Spark streaming
  * consumer tails via `cdcStream`. The emission hook is the statement
  * commit point (withPendingRollback), so rolled-back statements can
  * never leak a phantom segment. */
class CqlCdcSpec extends SparkSpec {

  private def drain(s: CqlSession, table: String) = {
    val name = s"cdc_drain_${System.nanoTime()}"
    graft.streaming.StreamingPipelines.runToMemory(
      s.cdcStream(table), name, "append")
    spark.table(name)
  }

  test("mutations land in commit order; a failed statement mid-BATCH " +
    "leaks nothing (atomicity carries to CDC)") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cdca (k bigint PRIMARY KEY, v text) WITH cdc = true")
    s.execute("INSERT INTO cdca (k, v) VALUES (1, 'x')")
    // a batch whose second statement fails must emit NO segment at all
    intercept[CqlInvalidQueryException] {
      s.execute("BEGIN BATCH " +
        "INSERT INTO cdca (k, v) VALUES (2, 'y'); " +
        "INSERT INTO nope (k) VALUES (3); APPLY BATCH")
    }
    s.execute("DELETE FROM cdca WHERE k = 1")
    val rows = drain(s, "cdca")
      .select(col("_writetime"), col("k"), col("_deleted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq((1L, 1L, false), (3L, 1L, true)), // failed BATCH consumed ts 2
      s"got ${rows.toSeq}")
  }

  test("cdc is off by default, toggles via ALTER, renders in DESCRIBE, " +
    "and cdcStream refuses a non-cdc table") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cdcb (k bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO cdcb (k, v) VALUES (1, 'x')")
    intercept[CqlInvalidQueryException] { s.cdcStream("cdcb") }
    s.execute("ALTER TABLE cdcb WITH cdc = true")
    val ddl = s.execute("DESCRIBE TABLE cdcb").collect()
      .map(_.getAs[String]("create_statement")).mkString("\n")
    assert(ddl.contains("cdc = true"), ddl)
    // only mutations AFTER enablement are captured (upstream: cdc starts
    // logging at the toggle, no retroactive backfill)
    s.execute("INSERT INTO cdcb (k, v) VALUES (2, 'y')")
    val ks = drain(s, "cdcb").select("k").collect().map(_.getLong(0)).toSeq
    assert(ks === Seq(2L))
    s.execute("ALTER TABLE cdcb WITH cdc = false")
    s.execute("INSERT INTO cdcb (k, v) VALUES (3, 'z')")
    intercept[CqlInvalidQueryException] { s.cdcStream("cdcb") }
  }

  test("cdcStream is not a permission side door: SELECT required, and a " +
    "masked table requires UNMASK (segments carry clear bytes)") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cdcp (k bigint PRIMARY KEY, " +
      "ssn text MASKED WITH mask_replace('X')) WITH cdc = true")
    s.execute("INSERT INTO cdcp (k, ssn) VALUES (1, '111-22-3333')")
    s.execute("CREATE ROLE cdcclerk WITH LOGIN = true")
    s.login("cdcclerk")
    val noSelect = intercept[CqlInvalidQueryException] { s.cdcStream("cdcp") }
    assert(noSelect.getMessage.contains("SELECT") ||
      noSelect.getMessage.toLowerCase.contains("permission"))
    s.login("cassandra", "cassandra")
    s.execute("GRANT SELECT ON cdcp TO cdcclerk")
    s.login("cdcclerk")
    val noUnmask = intercept[CqlInvalidQueryException] { s.cdcStream("cdcp") }
    assert(noUnmask.getMessage.contains("UNMASK"))
    s.login("cassandra", "cassandra")
    s.execute("GRANT UNMASK ON cdcp TO cdcclerk")
    s.login("cdcclerk")
    assert(drain(s, "cdcp").count() === 1L) // clear stream, now authorized
  }

  test("CDC replication converges across MULTIPLE micro-batches (one " +
    "segment per trigger), timestamps preserved") {
    val src = CqlSession(spark)
    src.execute("CREATE TABLE repm15 (k bigint PRIMARY KEY, v text) " +
      "WITH cdc = true")
    src.execute("INSERT INTO repm15 (k, v) VALUES (1, 'a')")
    src.execute("INSERT INTO repm15 (k, v) VALUES (2, 'b')")
    src.execute("UPDATE repm15 SET v = 'a2' WHERE k = 1")
    src.execute("DELETE FROM repm15 WHERE k = 2")
    src.execute("INSERT INTO repm15 (k, v) VALUES (3, 'c') " +
      "USING TIMESTAMP 100")
    src.execute("UPDATE repm15 USING TIMESTAMP 90 SET v = 'z' WHERE k = 3")
    val replica = CqlSession(spark)
    replica.execute("CREATE TABLE repm15 (k bigint PRIMARY KEY, v text)")
    val q = src.cdcStream("repm15", maxFilesPerTrigger = 1).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        replica.applyCdcBatch("repm15", b)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val a = src.execute("SELECT k, v FROM repm15").collect()
      .map(_.toString).sorted.toSeq
    val b = replica.execute("SELECT k, v FROM repm15").collect()
      .map(_.toString).sorted.toSeq
    assert(a === b)
    assert(a === Seq("[1,a2]", "[3,c]"))
  }

  test("Harry-style replication fuzz: random colliding-timestamp scripts " +
    "replicate to an identical state (CqlHarrySpec's script shape over " +
    "the CDC transport)") {
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 2) {
      val src = CqlSession(spark)
      src.execute(s"CREATE TABLE hf$round (pk bigint PRIMARY KEY, " +
        "a bigint, b text) WITH cdc = true")
      for (_ <- 1 to 18) {
        val pk = rnd.nextInt(3)
        val ts = 1 + rnd.nextInt(8) // collisions exercise reconcile
        rnd.nextInt(6) match {
          case 0 => src.execute(s"INSERT INTO hf$round (pk, a, b) VALUES " +
            s"($pk, ${rnd.nextInt(5)}, 'v${rnd.nextInt(5)}') USING TIMESTAMP $ts")
          case 1 => src.execute(s"UPDATE hf$round USING TIMESTAMP $ts " +
            s"SET a = ${rnd.nextInt(5)} WHERE pk = $pk")
          case 2 => src.execute(s"UPDATE hf$round USING TIMESTAMP $ts " +
            s"SET b = 'v${rnd.nextInt(5)}' WHERE pk = $pk")
          case 3 => src.execute(
            s"DELETE FROM hf$round USING TIMESTAMP $ts WHERE pk = $pk")
          case 4 => src.execute(
            s"DELETE a FROM hf$round USING TIMESTAMP $ts WHERE pk = $pk")
          case 5 => src.execute(
            s"DELETE b FROM hf$round USING TIMESTAMP $ts WHERE pk = $pk")
        }
      }
      val replica = CqlSession(spark)
      replica.execute(s"CREATE TABLE hf$round (pk bigint PRIMARY KEY, " +
        "a bigint, b text)")
      val q = src.cdcStream(s"hf$round", maxFilesPerTrigger = 4).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          replica.applyCdcBatch(s"hf$round", b)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val a = src.execute(s"SELECT pk, a, b FROM hf$round").collect()
        .map(_.toString).sorted.toSeq
      val b = replica.execute(s"SELECT pk, a, b FROM hf$round").collect()
        .map(_.toString).sorted.toSeq
      assert(a === b, s"replica diverged from source in round $round")
    }
  }

  test("cdc_total_space bound REJECTS writes on a full cdc dir, the " +
    "statement rolls back whole, and lifting the bound resumes writes") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cdcf (k bigint PRIMARY KEY, v text) " +
      "WITH cdc = true")
    s.execute("INSERT INTO cdcf (k, v) VALUES (1, 'x')")
    spark.conf.set("spark.graft.cdc.total_space_in_mb", "0")
    try {
      val e = intercept[CqlInvalidQueryException] {
        s.execute("INSERT INTO cdcf (k, v) VALUES (2, 'y')")
      }
      assert(e.getMessage.contains("cdc_total_space"), e.getMessage)
      // upstream contract: the write is REJECTED, never
      // applied-locally-but-lost-to-CDC
      assert(s.execute("SELECT count(*) FROM cdcf").head()
        .getLong(0) === 1L)
      // non-cdc tables are unaffected by the bound
      s.execute("CREATE TABLE plainf (k bigint PRIMARY KEY)")
      s.execute("INSERT INTO plainf (k) VALUES (1)")
    } finally spark.conf.unset("spark.graft.cdc.total_space_in_mb")
    s.execute("INSERT INTO cdcf (k, v) VALUES (2, 'y')")
    assert(s.execute("SELECT count(*) FROM cdcf").head().getLong(0) === 2L)
    // and the consumer still sees exactly the two COMMITTED mutations
    assert(drain(s, "cdcf").select("k").collect().map(_.getLong(0))
      .sorted.toSeq === Seq(1L, 2L))
  }

  test("cdcReap frees consumed segments: a checkpointed stream stays " +
    "correct across the reap and a fresh stream sees only unreaped data") {
    import org.apache.spark.sql.streaming.Trigger
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cdcr (k bigint PRIMARY KEY, v text) " +
      "WITH cdc = true")
    s.execute("INSERT INTO cdcr (k, v) VALUES (1, 'a')")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cdc-reap-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-cdc-reap-out").toString
    // a checkpoint-recovering consumer (parquet sink; memory sinks don't
    // recover) — the realistic t15 shape: the SAME consumer identity
    // drains across reaps
    def drainCkpt(): Seq[Long] = {
      val q = s.cdcStream("cdcr").writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).select("k").collect()
        .map(_.getLong(0)).sorted.toSeq
    }
    assert(drainCkpt() === Seq(1L)) // consumer processed seg 1
    val freed = s.cdcReap("cdcr") // consumer acks: delete processed segs
    assert(freed > 0L, "reap must free the consumed segment's bytes")
    s.execute("INSERT INTO cdcr (k, v) VALUES (2, 'b')")
    // the CHECKPOINTED consumer continues correctly over reaped history:
    // total output is exactly {1, 2} — nothing lost, nothing re-read
    assert(drainCkpt() === Seq(1L, 2L))
    // a FRESH consumer (no checkpoint) sees only what reap left behind
    assert(drain(s, "cdcr").select("k").collect().map(_.getLong(0))
      .toSeq === Seq(2L))
    // reap requires MODIFY: a read-only role is refused
    s.execute("CREATE ROLE cdc_ro WITH LOGIN = true")
    s.execute("GRANT SELECT ON cdcr TO cdc_ro")
    s.login("cdc_ro")
    try intercept[CqlInvalidQueryException] { s.cdcReap("cdcr") }
    finally s.login("cassandra", "cassandra")
  }

  test("bulk COPY FROM lands as one segment; a re-created cdc table does " +
    "not inherit its dropped predecessor's segments") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE cdcc (k bigint PRIMARY KEY, v text) WITH cdc = true")
    val f = java.nio.file.Files.createTempFile("graft-cdc-copy", ".csv")
    java.nio.file.Files.write(f, "10,a\n11,b\n12,c\n".getBytes("UTF-8"))
    s.execute(s"COPY cdcc (k, v) FROM '${f.toString}' WITH HEADER = FALSE")
    assert(drain(s, "cdcc").count() === 3L)
    // a catalog INSERT INTO is a bulk load too: its cdc files are copies
    // of the load's part files (one per part, no second write job), every
    // row under the load's one _writetime, and a replica converges
    s.exposeAsCatalog("graftcdcc")
    spark.range(100, 130).selectExpr("id AS k", "concat('p', id) AS v")
      .repartition(3).createOrReplaceTempView("cdcc_load")
    spark.sql("INSERT INTO graftcdcc.default.cdcc SELECT k, v FROM cdcc_load")
    val name = s"cdc_files_${System.nanoTime()}"
    graft.streaming.StreamingPipelines.runToMemory(s.cdcStream("cdcc")
      .withColumn("file", col("_metadata.file_path")), name, "append")
    val loaded = spark.table(name).filter(col("k") >= 100L)
    assert(loaded.count() === 30L)
    assert(loaded.select("file").distinct().count() === 3L,
      "one cdc file per load part file")
    assert(loaded.select("_writetime").distinct().count() === 1L)
    val replica = CqlSession(spark)
    replica.execute("CREATE TABLE cdcc (k bigint PRIMARY KEY, v text)")
    s.cdcStream("cdcc").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        replica.applyCdcBatch("cdcc", b)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    def dump(x: CqlSession): Seq[String] =
      x.execute("SELECT k, v, WRITETIME(v) FROM cdcc").collect()
        .map(_.toString).sorted.toSeq
    assert(dump(replica) === dump(s) && dump(s).size === 33)
    s.execute("DROP TABLE cdcc")
    s.execute("CREATE TABLE cdcc (k bigint PRIMARY KEY, v text) WITH cdc = true")
    s.execute("INSERT INTO cdcc (k, v) VALUES (99, 'fresh')")
    val ks = drain(s, "cdcc").select("k").collect().map(_.getLong(0)).toSeq
    assert(ks === Seq(99L), s"predecessor segments leaked: $ks")
  }

  test("a DISTRIBUTED delta fold's CDC segment replicates: the bulk-MERGE " +
    "mutations land on the replica with the source's shared timestamp") {
    val src = CqlSession(spark)
    src.execute("CREATE TABLE repd13 (k bigint PRIMARY KEY, v text, " +
      "n bigint) WITH cdc = true")
    (1L to 6L).foreach(i => src.execute(
      s"INSERT INTO repd13 (k, v, n) VALUES ($i, 'v$i', $i)"))
    src.exposeAsCatalog("graftrepd")
    import spark.implicits._
    Seq((2L, "up", 20L), (4L, "del", 0L), (9L, "new", 90L))
      .toDF("k", "v", "n").createOrReplaceTempView("repd_src")
    spark.sql(
      """MERGE INTO graftrepd.default.repd13 t USING repd_src s ON t.k = s.k
         WHEN MATCHED AND s.v = 'del' THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""")
    val replica = CqlSession(spark)
    replica.execute("CREATE TABLE repd13 (k bigint PRIMARY KEY, v text, " +
      "n bigint)")
    val q = src.cdcStream("repd13", maxFilesPerTrigger = 1).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        replica.applyCdcBatch("repd13", b)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val a = src.execute("SELECT k, v, n FROM repd13").collect()
      .map(_.toString).sorted.toSeq
    val b = replica.execute("SELECT k, v, n FROM repd13").collect()
      .map(_.toString).sorted.toSeq
    assert(a === b, "replica must converge to the source's merged state")
    assert(a.size === 6) // 6 - 1 delete + 1 insert
    // timestamps preserved: the merge wrote EVERY cell at one shared ts,
    // and replication must carry it (not restamp)
    val wts = replica.execute(
      "SELECT WRITETIME(v) FROM repd13 WHERE k IN (2, 9)").collect()
      .map(_.getLong(0)).distinct
    assert(wts.length === 1, s"merge cells restamped: ${wts.toSeq}")
  }

  test("REAP CDC is a statement verb: parse variants, system_views.cdc " +
    "accounting, and FQL replay re-executes the reap") {
    val s = CqlSession(spark)
    s.execute("AUDIT ON") // record the WHOLE script so REPLAY can re-run it
    s.execute("CREATE TABLE cdcr (k bigint PRIMARY KEY, v text) " +
      "WITH cdc = true")
    s.execute("INSERT INTO cdcr (k, v) VALUES (1, 'a')")
    s.execute("INSERT INTO cdcr (k, v) VALUES (2, 'b')")
    // THROUGH far future == unbounded; TABLE keyword optional
    val freed = s.execute(
      s"REAP CDC TABLE cdcr THROUGH ${Long.MaxValue}").head().getLong(2)
    assert(freed > 0L)
    val acct = s.execute("SELECT raw_bytes, reaped_bytes FROM " +
      "system_views.cdc WHERE keyspace_name = 'default' " +
      "AND table_name = 'cdcr'").head()
    assert(acct.getLong(0) === 0L && acct.getLong(1) === freed)
    // a second reap is a no-op, not an error (consumer idempotence)
    assert(s.execute("REAP CDC cdcr").head().getLong(2) === 0L)
    s.execute("AUDIT OFF")
    // the verb is FQL-recorded: REPLAY AUDIT re-executes it in the fresh
    // session without a statement-outcome mismatch
    val rep = s.execute("REPLAY AUDIT")
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    val Array(matched, total) = rep("outcome_match").split("/")
    assert(matched === total && total.toLong > 0L,
      s"REAP must replay cleanly: $rep")
    // syntax errors reject loudly
    intercept[graft.cql.CqlInvalidQueryException] {
      s.execute("REAP CDC cdcr THROUGH soon")
    }
    intercept[graft.cql.CqlInvalidQueryException] { s.execute("REAP cdcr") }
  }

  test("r14: a distributed bulk-MERGE's CDC segment is MULTI-FILE (the " +
    "emission parallelizes like the fold) and still honors every CDC " +
    "contract: one shared writetime, replica apply, accounting, reap") {
    import org.apache.spark.sql.functions._
    val src = CqlSession(spark)
    src.execute("CREATE TABLE repd14 (k bigint PRIMARY KEY, v text, " +
      "n bigint)")
    src.exposeAsCatalog("graftrepd14")
    // bulk seed BEFORE cdc so the delta is the only segment in the dir
    spark.sql("INSERT INTO graftrepd14.default.repd14 " +
      "SELECT id AS k, concat('v', id) AS v, id AS n FROM range(1, 6001)")
    src.execute("ALTER TABLE repd14 WITH cdc = true")
    spark.sql(
      """SELECT id AS k, 'up' AS v, id * 10 AS n FROM range(1, 3001)
         UNION ALL SELECT id, 'del', 0 FROM range(3001, 3101)
         UNION ALL SELECT id, 'new', id FROM range(7001, 7101)""")
      .repartition(8).createOrReplaceTempView("repd14_src")
    // the emission's file granularity IS the fold's task granularity
    // (r18: cdc files are file-copies of the fold's shaped segments) —
    // at fixture volume AQE would legitimately coalesce the tiny MERGE
    // join to ONE task, so pin coalescing off to make the fold fan out
    // the way a real bulk delta does, and assert the emission keeps it
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try spark.sql(
      """MERGE INTO graftrepd14.default.repd14 t USING repd14_src s
         ON t.k = s.k
         WHEN MATCHED AND s.v = 'del' THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
         WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""")
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    // drain the statement's segment; _metadata.file_path exposes how many
    // files it spans (the r13 shape was coalesce(1) — ONE task serializing
    // the whole changed-row set; r14 keeps the fold's parallelism)
    val replica = CqlSession(spark)
    replica.execute("CREATE TABLE repd14 (k bigint PRIMARY KEY, v text, " +
      "n bigint)")
    val files = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val nRows = new java.util.concurrent.atomic.AtomicLong(0L)
    // the hidden _metadata column resolves on the file SOURCE (it is gone
    // by the time foreachBatch sees the batch), so project it up front
    val q = src.cdcStream("repd14")
      .withColumn("_graft_file", col("_metadata.file_path")).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select(col("_graft_file")).distinct().collect()
          .foreach(r => files.put(r.getString(0), true))
        nRows.addAndGet(b.count())
        replica.applyCdcBatch("repd14", b.drop("_graft_file"))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(nRows.get() === 3200L, // 3000 updates + 100 inserts + 100 dels
      s"segment must carry exactly the delta, got ${nRows.get()}")
    assert(files.size > 1,
      s"the bulk fold's CDC emission must parallelize into multiple " +
        s"files, got ${files.size}")
    // replica converged to the delta's post-images; tombstones applied
    assert(replica.execute("SELECT count(*) FROM repd14").head()
      .getLong(0) === 3100L)
    assert(replica.execute("SELECT count(*) FROM repd14 WHERE k = 3050")
      .head().getLong(0) === 0L, "tombstoned key must not reach the replica")
    assert(replica.execute("SELECT v, n FROM repd14 WHERE k = 42").head()
      .toSeq === Seq("up", 420L))
    // one statement = ONE shared coordinator timestamp across all files
    val wts = replica.execute(
      "SELECT WRITETIME(v) FROM repd14 WHERE k IN (42, 2999, 7050)")
      .collect().map(_.getLong(0)).distinct
    assert(wts.length === 1, s"multi-file segment restamped: ${wts.toSeq}")
    // accounting + reap hold file-granular: raw bytes > 0, reap frees all
    val acct0 = src.execute("SELECT raw_bytes FROM system_views.cdc " +
      "WHERE keyspace_name = 'default' AND table_name = 'repd14'")
      .head().getLong(0)
    assert(acct0 > 0L)
    val freed = src.execute("REAP CDC repd14").head().getLong(2)
    assert(freed > 0L)
    val acct1 = src.execute("SELECT raw_bytes, reaped_bytes FROM " +
      "system_views.cdc WHERE keyspace_name = 'default' " +
      "AND table_name = 'repd14'").head()
    assert(acct1.getLong(0) === 0L && acct1.getLong(1) === freed)
  }

  test("CDC replication differential fuzz: 3 seeded scripts mixing per-row " +
    "DML, BATCHes, and a mid-script bulk MERGE (multi-file segment) " +
    "converge replica == source, timestamps preserved") {
    import org.apache.spark.sql.functions._
    // GRAFT_FUZZ_ROUNDS / GRAFT_FUZZ_SEED: long-hunt knobs (defaults = CI)
    val nRounds = sys.env.getOrElse("GRAFT_FUZZ_ROUNDS", "3").toInt
    val seed0 = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260815L)
    for (round <- 1 to nRounds) {
      val rnd = new scala.util.Random(seed0 + round)
      val src = CqlSession(spark)
      src.execute(s"CREATE TABLE fz$round (k bigint PRIMARY KEY, v text, " +
        "n bigint) WITH cdc = true")
      src.exposeAsCatalog(s"graftfz$round")
      def randOp(): Unit = {
        val k = rnd.nextInt(50)
        rnd.nextInt(4) match {
          case 0 => src.execute(
            s"INSERT INTO fz$round (k, v, n) VALUES ($k, 'i$k-${rnd.nextInt(9)}', ${rnd.nextInt(100)})")
          case 1 => src.execute(
            s"UPDATE fz$round SET v = 'u${rnd.nextInt(9)}', n = ${rnd.nextInt(100)} WHERE k = $k")
          case 2 => src.execute(s"DELETE FROM fz$round WHERE k = $k")
          case 3 => src.execute(
            s"""BEGIN BATCH
               INSERT INTO fz$round (k, v, n) VALUES ($k, 'b', 1);
               UPDATE fz$round SET n = ${rnd.nextInt(100)} WHERE k = ${rnd.nextInt(50)};
               APPLY BATCH""")
        }
      }
      (1 to 25).foreach(_ => randOp())
      // mid-script bulk MERGE through the distributed fold: ~60-row
      // delta over a key band overlapping the per-row keys plus a fresh
      // insert band
      spark.range(0, 300)
        .select((col("id") % 60).as("k"),
          concat(lit(s"m$round-"), col("id") % 7).as("v"),
          (col("id") * 3 % 97).as("n"))
        .groupBy("k").agg(max("v").as("v"), max("n").as("n"))
        .createOrReplaceTempView(s"fz_src$round")
      spark.sql(
        s"""MERGE INTO graftfz$round.default.fz$round t
            USING fz_src$round s ON t.k = s.k
            WHEN MATCHED AND s.n % 11 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
            WHEN NOT MATCHED AND s.n % 13 <> 0
              THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""")
      (1 to 25).foreach(_ => randOp())
      // drain everything into a fresh replica and compare FULL state
      val replica = CqlSession(spark)
      replica.execute(s"CREATE TABLE fz$round (k bigint PRIMARY KEY, " +
        "v text, n bigint)")
      val q = src.cdcStream(s"fz$round").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          replica.applyCdcBatch(s"fz$round", b); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      def dump(s: CqlSession): Seq[String] =
        s.execute(s"SELECT k, v, n, WRITETIME(v) AS wt, WRITETIME(n) " +
          s"AS wtn FROM fz$round").collect().map(_.toString).sorted.toSeq
      assert(dump(replica) === dump(src),
        s"round $round: replica diverged from source")
    }
  }
}

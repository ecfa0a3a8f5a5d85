package graft

import graft.cql.{CqlSession, CqlInvalidQueryException}

/** Pins the LWT condition read through the driver-side partition fold
  * (CqlSession.lwtLocalRead) to the Spark view path it replaces: the SAME random mutation script — two
  * clustering levels, partition/range/row/cell tombstones, colliding
  * USING TIMESTAMP writes, bare-marker inserts, every condition form —
  * must produce identical per-op `[applied]` outcomes and an identical
  * final table under both read paths. Any divergence is a bug in one of
  * the two reconcile implementations. */
class CqlLwtFastPathSpec extends SparkSpec {

  private def runScript(forceSpark: Boolean): (Seq[Option[Boolean]], Seq[String], Long) = {
    val s = CqlSession(spark)
    s.forceSparkRead = forceSpark
    s.execute("CREATE TABLE lp (pk bigint, c1 bigint, c2 bigint, " +
      "a bigint, b text, PRIMARY KEY (pk, c1, c2))")
    val rnd = new scala.util.Random(20260813L)
    val applied = scala.collection.mutable.Buffer.empty[Option[Boolean]]
    def exec(cql: String): Unit = {
      val df = s.execute(cql)
      applied += (if (df.columns.contains("[applied]"))
        Some(df.collect()(0).getBoolean(0)) else None)
    }
    for (_ <- 1 to 140) {
      val pk = rnd.nextInt(3); val c1 = rnd.nextInt(2); val c2 = rnd.nextInt(2)
      val av = rnd.nextInt(50); val bv = s"v${rnd.nextInt(4)}"
      rnd.nextInt(12) match {
        case 0 => exec(s"INSERT INTO lp (pk, c1, c2, a, b) VALUES " +
          s"($pk, $c1, $c2, $av, '$bv') IF NOT EXISTS")
        case 1 => exec(s"INSERT INTO lp (pk, c1, c2, a, b) VALUES " +
          s"($pk, $c1, $c2, $av, '$bv')")
        case 2 => exec(s"UPDATE lp SET a = $av WHERE pk = $pk AND " +
          s"c1 = $c1 AND c2 = $c2 IF EXISTS")
        case 3 => exec(s"UPDATE lp SET b = 'w$av' WHERE pk = $pk AND " +
          s"c1 = $c1 AND c2 = $c2 IF a < $av")
        case 4 => exec(s"UPDATE lp SET a = $av, b = 'x' WHERE pk = $pk " +
          s"AND c1 = $c1 AND c2 = $c2 IF b != 'v1'")
        case 5 => exec(s"DELETE FROM lp WHERE pk = $pk AND c1 = $c1 " +
          s"AND c2 = $c2 IF EXISTS")
        case 6 => exec(s"DELETE a FROM lp WHERE pk = $pk AND c1 = $c1 " +
          s"AND c2 = $c2") // cell tombstone
        case 7 => exec(s"DELETE FROM lp WHERE pk = $pk") // partition tombstone
        case 8 => exec(s"DELETE FROM lp WHERE pk = $pk AND c1 = $c1") // range
        case 9 => // colliding client timestamps exercise the value tie-break
          exec(s"UPDATE lp USING TIMESTAMP ${500 + rnd.nextInt(10)} SET " +
            s"a = $av WHERE pk = $pk AND c1 = $c1 AND c2 = $c2")
        case 10 => exec(s"INSERT INTO lp (pk, c1, c2) VALUES ($pk, $c1, $c2)")
        case 11 => exec(s"UPDATE lp SET a = $av WHERE pk = $pk AND " +
          s"c1 = $c1 AND c2 = $c2 IF a >= $av AND b = '$bv'")
      }
    }
    val fin = s.execute("SELECT pk, c1, c2, a, b FROM lp ALLOW FILTERING")
      .orderBy("pk", "c1", "c2").collect().map(_.toString).toSeq
    (applied.toSeq, fin, s.foldReads)
  }

  test("LWT local point read ≡ Spark view read over a random mutation script") {
    val (aFast, finFast, localReads) = runScript(forceSpark = false)
    val (aSpark, finSpark, sparkLocalReads) = runScript(forceSpark = true)
    assert(localReads > 30, "fast path must actually serve the reads")
    assert(sparkLocalReads === 0L)
    assert(aFast === aSpark)
    assert(finFast === finSpark)
  }

  test("bulk-loaded tables take the partition fold, and it equals the " +
    "forced Spark read") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    def run(forceSpark: Boolean): (Seq[Boolean], Long, Seq[String]) = {
      val s = new CqlSession(spark,
        Map("ord" -> graft.cql.CqlTable(orders, Seq("o_orderkey"))))
      s.forceSparkRead = forceSpark
      val applied = Seq(
        "UPDATE ord SET o_totalprice = 1.5 WHERE o_orderkey = 1 IF EXISTS",
        "UPDATE ord SET o_totalprice = 2.5 WHERE o_orderkey = 1 " +
          "IF o_totalprice = 1.5",
        "UPDATE ord SET o_totalprice = 9.0 WHERE o_orderkey = 2 " +
          "IF o_totalprice < 0",
        "INSERT INTO ord (o_orderkey, o_totalprice) VALUES (3, 1.0) " +
          "IF NOT EXISTS",
        "INSERT INTO ord (o_orderkey, o_totalprice) VALUES (-7, 1.0) " +
          "IF NOT EXISTS",
        "DELETE FROM ord WHERE o_orderkey = -8 IF EXISTS"
      ).map(q => s.execute(q).collect()(0).getBoolean(0))
      val folds = s.foldReads
      val fin = s.execute("SELECT o_orderkey, o_totalprice FROM ord " +
        "WHERE o_orderkey IN (-8, -7, 1, 2, 3)")
        .orderBy("o_orderkey").collect().map(_.toString).toSeq
      (applied, folds, fin)
    }
    val (aFold, folds, finFold) = run(forceSpark = false)
    val (aSpark, sparkFolds, finSpark) = run(forceSpark = true)
    assert(folds === 6L, "every LWT read of a file-backed table must fold")
    assert(sparkFolds === 0L)
    assert(aFold === Seq(true, true, false, false, true, false))
    assert(aFold === aSpark)
    assert(finFold === finSpark)
  }

  test("conditional writes reject client timestamps, as upstream") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE lts (k bigint PRIMARY KEY, v bigint)")
    intercept[CqlInvalidQueryException] {
      s.execute("UPDATE lts USING TIMESTAMP 5 SET v = 1 WHERE k = 1 IF EXISTS")
    }
    intercept[CqlInvalidQueryException] {
      s.execute("BEGIN BATCH USING TIMESTAMP 5 " +
        "UPDATE lts SET v = 1 WHERE k = 1 IF EXISTS; APPLY BATCH")
    }
  }
}

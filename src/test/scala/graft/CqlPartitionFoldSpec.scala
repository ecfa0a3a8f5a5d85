package graft

import graft.cql.CqlSession

/** Differential check of the driver-side partition fold (CqlSession's
  * partition read) against the Spark view it stands in for: random
  * mutation scripts — INSERT/UPDATE/cell DELETE/row, range and partition
  * DELETE, colliding `USING TIMESTAMP` writes, UPDATE-only rows and null
  * cells — over 1- and 2-column ASC/DESC clustering, on a localOnly table
  * and on file-backed tables after a bulk load, a catalog MERGE or a
  * COMPACT mid-script. Every partition read (point, slice and IN-on-ck
  * reads with LIMIT, `writetime()`, `count(*)`) must return the same rows
  * in the same order on both paths, and must actually take the fold.
  *
  * GRAFT_FUZZ_ROUNDS / GRAFT_FUZZ_DRAWS / GRAFT_FUZZ_SEED size the hunt
  * (defaults = CI volume). */
class CqlPartitionFoldSpec extends SparkSpec {

  private val rounds = sys.env.getOrElse("GRAFT_FUZZ_ROUNDS", "8").toInt
  // reads per checkpoint, on ColumnarAggSpec's draw scale: 25 (CI) → 10,
  // a 250-draw hunt → 100
  private val draws =
    math.max(1, sys.env.getOrElse("GRAFT_FUZZ_DRAWS", "25").toInt * 2 / 5)
  private val seed0 =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20261019L)

  /** (clustering columns, CLUSTERING ORDER BY clause) */
  private val shapes = Seq(
    (Seq("c1"), ""),
    (Seq("c1"), " WITH CLUSTERING ORDER BY (c1 DESC)"),
    (Seq("c1", "c2"), ""),
    (Seq("c1", "c2"), " WITH CLUSTERING ORDER BY (c1 DESC, c2 ASC)"),
    (Seq("c1", "c2"), " WITH CLUSTERING ORDER BY (c1 ASC, c2 DESC)"))
  private val states = Seq("localOnly", "bulk load", "merge", "compact")

  /** Rows of `cql` on the fold and on the Spark view, in result order. */
  private def bothPaths(s: CqlSession, cql: String): (Seq[String], Seq[String]) = {
    val before = s.foldReads
    val fold = s.execute(cql).collect().map(_.toString).toSeq
    assert(s.foldReads === before + 1, s"not served by the fold: $cql")
    s.forceSparkRead = true
    try (fold, s.execute(cql).collect().map(_.toString).toSeq)
    finally s.forceSparkRead = false
  }

  test("partition fold ≡ Spark view over random scripts, clustering " +
    "orders and table states") {
    for (round <- 1 to rounds) {
      val rnd = new scala.util.Random(seed0 + round)
      val (cks, order) = shapes(round % shapes.size)
      val tableState = states(round % states.size)
      val t = s"pf$round"
      val s = CqlSession(spark)
      s.execute(s"CREATE TABLE $t (pk bigint, ${cks.map(_ + " bigint, ").mkString}" +
        s"a bigint, b text, PRIMARY KEY (pk, ${cks.mkString(", ")}))$order")
      def key(): (Long, Seq[Long]) = (rnd.nextInt(3).toLong, cks.map(_ => rnd.nextInt(2).toLong))
      def where(pk: Long, ck: Seq[Long]) =
        s"pk = $pk" + cks.zip(ck).map { case (c, v) => s" AND $c = $v" }.mkString
      // mostly client timestamps from a small range: frequent ties between
      // writes and deletes of one cell
      def using(): String =
        if (rnd.nextInt(6) > 0) s" USING TIMESTAMP ${1 + rnd.nextInt(5)}" else ""
      def mutate(): Unit = {
        val (pk, ck) = key()
        val av = rnd.nextInt(5); val bv = if (rnd.nextInt(4) == 0) "null" else s"'v${rnd.nextInt(4)}'"
        rnd.nextInt(10) match {
          case 0 | 1 => s.execute(s"INSERT INTO $t (pk, ${cks.mkString(", ")}, a, b) " +
            s"VALUES ($pk, ${ck.mkString(", ")}, $av, $bv)${using()}")
          case 2 => s.execute(s"INSERT INTO $t (pk, ${cks.mkString(", ")}) " +
            s"VALUES ($pk, ${ck.mkString(", ")})${using()}") // bare row marker
          case 3 => s.execute(s"UPDATE $t${using()} SET a = $av WHERE ${where(pk, ck)}")
          case 4 => s.execute(s"UPDATE $t${using()} SET a = $av, b = $bv " +
            s"WHERE ${where(pk, ck)}")
          case 5 => s.execute(s"DELETE a FROM $t${using()} WHERE ${where(pk, ck)}")
          case 6 => s.execute(s"DELETE b FROM $t${using()} WHERE ${where(pk, ck)}")
          case 7 => s.execute(s"DELETE FROM $t${using()} WHERE ${where(pk, ck)}")
          case 8 => // range tombstone on a clustering prefix, else a row delete
            s.execute(s"DELETE FROM $t${using()} WHERE pk = $pk AND ${cks.head} = ${ck.head}")
          case _ => if (rnd.nextInt(3) == 0)
              s.execute(s"DELETE FROM $t${using()} WHERE pk = $pk")
            else s.execute(s"UPDATE $t${using()} SET b = $bv WHERE ${where(pk, ck)}")
        }
      }
      def readAll(): Unit = (1 to draws).foreach { _ =>
        val pk = rnd.nextInt(3)
        val sel = s"${cks.mkString(", ")}, a, b"
        val cql = rnd.nextInt(6) match {
          case 0 => s"SELECT * FROM $t WHERE pk = $pk"
          case 1 => s"SELECT $sel FROM $t WHERE pk = $pk LIMIT ${1 + rnd.nextInt(3)}"
          case 2 => s"SELECT $sel FROM $t WHERE pk = $pk AND ${cks.head} >= ${rnd.nextInt(2)}" +
            (if (rnd.nextBoolean()) s" LIMIT ${1 + rnd.nextInt(3)}" else "")
          case 3 => s"SELECT $sel FROM $t WHERE pk = $pk AND ${cks.head} IN (0, 1)" +
            (if (rnd.nextBoolean()) " LIMIT 2" else "")
          case 4 => s"SELECT ${cks.mkString(", ")}, writetime(a), writetime(b) " +
            s"FROM $t WHERE pk = $pk"
          case _ => s"SELECT count(*) FROM $t WHERE pk = $pk"
        }
        val (fold, view) = bothPaths(s, cql)
        assert(fold === view, s"round $round ($tableState, ${cks.size} ck$order): $cql")
      }
      (1 to 30).foreach(_ => mutate())
      readAll()
      tableState match {
        case "localOnly" => ()
        case "compact" => s.execute(s"COMPACT TABLE $t")
        case other =>
          val cat = s"pfcat$round"
          s.exposeAsCatalog(cat)
          val keys = ("pk" +: cks).mkString(", ")
          val ckGen = cks.zipWithIndex.map { case (c, i) =>
            s"pmod(id * ${7 + i} + $i, 3) AS $c" }.mkString(", ")
          val rows = s"SELECT $keys, max(a) AS a, max(b) AS b FROM (" +
            s"SELECT pmod(id, 3) AS pk, $ckGen, id % 5 AS a, " +
            s"concat('m', id % 4) AS b FROM range(12)) GROUP BY $keys"
          if (other == "bulk load")
            spark.sql(s"INSERT INTO $cat.default.$t $rows")
          else {
            spark.sql(rows).createOrReplaceTempView(s"pf_src$round")
            val on = ("pk" +: cks).map(c => s"t.$c = s.$c").mkString(" AND ")
            val all = ("pk" +: cks) ++ Seq("a", "b")
            spark.sql(s"""MERGE INTO $cat.default.$t t USING pf_src$round s ON $on
              WHEN MATCHED AND s.a = 0 THEN DELETE
              WHEN MATCHED THEN UPDATE SET a = s.a, b = s.b
              WHEN NOT MATCHED THEN INSERT (${all.mkString(", ")})
                VALUES (${all.map("s." + _).mkString(", ")})""")
          }
      }
      (1 to 30).foreach(_ => mutate())
      readAll()
    }
  }

  test("timestamp ties: a cell tombstone beats a write in either log " +
    "order, the greater value wins between writes") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE pftie (pk bigint, c bigint, v text, n bigint, " +
      "PRIMARY KEY (pk, c))")
    s.execute("INSERT INTO pftie (pk, c, v, n) VALUES (1, 1, 'a', 1) USING TIMESTAMP 5")
    s.execute("DELETE v FROM pftie USING TIMESTAMP 5 WHERE pk = 1 AND c = 1")
    s.execute("DELETE v FROM pftie USING TIMESTAMP 5 WHERE pk = 1 AND c = 2")
    s.execute("INSERT INTO pftie (pk, c, v, n) VALUES (1, 2, 'b', 2) USING TIMESTAMP 5")
    s.execute("UPDATE pftie USING TIMESTAMP 5 SET n = 9 WHERE pk = 1 AND c = 1")
    s.execute("UPDATE pftie USING TIMESTAMP 5 SET n = 3 WHERE pk = 1 AND c = 2")
    val cql = "SELECT c, v, n, writetime(v) FROM pftie WHERE pk = 1"
    val (fold, view) = bothPaths(s, cql)
    assert(fold === view)
    assert(fold === Seq("[1,null,9,null]", "[2,null,3,null]"))
  }

  test("LWT reads the same fold: conditional writes on a localOnly table") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE pflwt (pk bigint, c bigint, v text, " +
      "PRIMARY KEY (pk, c)) WITH CLUSTERING ORDER BY (c DESC)")
    s.execute("INSERT INTO pflwt (pk, c, v) VALUES (1, 1, 'a')")
    s.execute("DELETE FROM pflwt WHERE pk = 1")
    s.execute("INSERT INTO pflwt (pk, c, v) VALUES (1, 2, 'b')")
    def applied(cql: String) = s.execute(cql).collect()(0).getBoolean(0)
    assert(!applied("UPDATE pflwt SET v = 'x' WHERE pk = 1 AND c = 1 IF EXISTS"))
    assert(applied("UPDATE pflwt SET v = 'y' WHERE pk = 1 AND c = 2 IF v = 'b'"))
    assert(s.foldReads === 2L)
    assert(s.execute("SELECT c, v FROM pflwt WHERE pk = 1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "y")))
  }

  test("routing: which SELECTs take the fold, and TRACING names the path") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE pfr (pk bigint, c bigint, v text, " +
      "PRIMARY KEY (pk, c))")
    s.execute("CREATE TABLE pfst (pk bigint, c bigint, s text STATIC, " +
      "PRIMARY KEY (pk, c))")
    s.execute("CREATE TABLE pfcoll (pk bigint PRIMARY KEY, l list<bigint>)")
    s.execute("INSERT INTO pfr (pk, c, v) VALUES (1, 1, 'a')")
    def folds(cql: String): Boolean = {
      val before = s.foldReads
      s.execute(cql).collect()
      s.foldReads == before + 1
    }
    assert(folds("SELECT * FROM pfr WHERE pk = 1"))
    assert(folds("SELECT v FROM pfr WHERE pk = 1 AND c > 0 LIMIT 1"))
    assert(folds("SELECT count(*) FROM pfr WHERE pk = 1"))
    assert(!folds("SELECT * FROM pfr"), "table-wide reads keep the view")
    assert(!folds("SELECT * FROM pfr WHERE pk IN (1, 2)"))
    assert(!folds("SELECT * FROM pfr WHERE c = 1 ALLOW FILTERING"))
    assert(!folds("SELECT * FROM pfst WHERE pk = 1"), "statics keep the view")
    assert(!folds("SELECT * FROM pfcoll WHERE pk = 1"), "op-logs keep the view")
    assert(!folds("SELECT * FROM system_schema.tables WHERE keyspace_name = 'x'"))
    s.execute("TRACING ON")
    s.execute("SELECT v FROM pfr WHERE pk = 1").collect()
    s.execute("SELECT v FROM pfr").collect()
    s.execute("TRACING OFF")
    val acts = s.execute("SELECT activity FROM system_traces.events")
      .collect().map(_.getString(0)).toSeq
    assert(acts.contains(
      "Read path: driver partition fold (1 log rows scanned, 1 rows out)"), acts)
    assert(acts.contains("Read path: Spark view"), acts)
  }
}

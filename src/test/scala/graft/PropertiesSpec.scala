package graft

import graft.operators.CassandraModel
import org.scalacheck.{Gen, rng}

/** SURVEY §5.2.3 — Harry-lite model checks: properties of the upsert/view
  * algebra on arbitrary small generated logs (not just the fixture-derived
  * one). Plain ScalaCheck generators driven from ScalaTest with a fixed seed
  * (deterministic CI). */
class PropertiesSpec extends SparkSpec {

  private val cellGen = for {
    pk <- Gen.choose(0L, 8L)
    wt <- Gen.choose(0L, 20L)
    v  <- Gen.choose(0, 3)
    del <- Gen.oneOf(true, false, false, false)
  } yield (pk, 1.0 + pk, s"s$v", wt, v, del)

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val seed0 = rng.Seed(42L)
    (0 until n).scanLeft((Option.empty[T], seed0)) { case ((_, seed), _) =>
      val r = g.doPureApply(Gen.Parameters.default, seed)
      (Some(r.retrieve.get), r.seed)
    }.flatMap(_._1)
  }

  test("latest-wins view: at most one row per key, winner dominates (8 random logs)") {
    import spark.implicits._
    for (raw <- samples(Gen.nonEmptyListOf(cellGen), 8)) {
      // distinct (pk, writetime, v): ties in the sort key would make the
      // winner (and hence the model) nondeterministic
      val cells = raw.distinctBy(c => (c._1, c._4, c._5))
      val log = cells.toDF("pk", "price", "status", "_writetime", "v", "_deleted")
      val view = CassandraModel.latestWinsView(log).collect()
      val perKey = view.groupBy(_.getLong(0)).view.mapValues(_.length)
      assert(perKey.values.forall(_ == 1))
      val maxByKey = cells.groupBy(_._1).view.mapValues(cs =>
        cs.map(c => (c._4, c._5)).max).toMap
      view.foreach { r =>
        val key = (r.getLong(r.fieldIndex("_writetime")),
          r.getInt(r.fieldIndex("v")))
        assert(key == maxByKey(r.getLong(0)))
      }
      // a key is hidden iff its winning cell is a tombstone
      val hidden = cells.map(_._1).distinct.toSet -- view.map(_.getLong(0)).toSet
      val shouldHide = cells.groupBy(_._1).collect {
        case (pk, cs) if cs.maxBy(c => (c._4, c._5))._6 => pk
      }.toSet
      assert(hidden == shouldHide)
    }
  }

  test("reconcileView matches a plain-Scala model on random cell logs (Harry-lite)") {
    import spark.implicits._
    // cells: (pk, price?, status?, wt, deleted) — null = column not written
    val cellGen2 = for {
      pk <- Gen.choose(0L, 5L)
      wt <- Gen.choose(1L, 15L)
      writePrice <- Gen.oneOf(true, false)
      writeStatus <- Gen.oneOf(true, false)
      del <- Gen.frequency(1 -> true, 4 -> false)
      price <- Gen.choose(1, 99)
      status <- Gen.oneOf("a", "b", "c")
    } yield (pk, if (writePrice && !del) Some(price.toDouble) else None,
      if (writeStatus && !del) Some(status) else None, wt, del)

    for (raw <- samples(Gen.nonEmptyListOf(cellGen2), 10)) {
      val cells = raw.distinctBy(c => (c._1, c._4)) // unique (pk, wt): no ts ties
      val df = cells.toDF("pk", "price", "status", "_writetime", "_deleted")
      val got = CassandraModel.reconcileView(df, Seq("pk"), Seq("price", "status"))
        .select("pk", "price", "status", "_writetime")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          Option(r.getString(2)),
          r.getLong(3)))
        .sortBy(_._1)

      // reference model: per key — delete horizon, surviving cells, per-column
      // latest write
      val expect = cells.groupBy(_._1).toSeq.flatMap { case (pk, cs) =>
        val delWt = cs.filter(_._5).map(_._4).maxOption
        val live = cs.filter(c => !c._5 && delWt.forall(c._4 > _))
        if (live.isEmpty) None
        else {
          val price = live.filter(_._2.isDefined).maxByOption(_._4).flatMap(_._2)
          val status = live.filter(_._3.isDefined).maxByOption(_._4).flatMap(_._3)
          Some((pk, price, status, live.map(_._4).max))
        }
      }.sortBy(_._1)
      assert(got.toSeq === expect,
        s"log=${cells.mkString(",")}")
    }
  }

  test("list op-log fold matches a sequential Scala interpreter (random op sequences)") {
    import graft.cql.CqlSession
    import org.apache.spark.sql.types._
    sealed trait Op
    case class SetL(xs: List[Long]) extends Op
    case class App(xs: List[Long]) extends Op
    case class Rem(xs: List[Long]) extends Op
    case class SetIdx(i: Int, v: Long) extends Op
    case class DelIdx(i: Int) extends Op
    val opGen: Gen[Op] = Gen.oneOf(
      Gen.listOfN(2, Gen.choose(0L, 5L)).map(SetL(_)),
      Gen.nonEmptyListOf(Gen.choose(0L, 5L)).map(xs => App(xs.take(3))),
      Gen.nonEmptyListOf(Gen.choose(0L, 5L)).map(xs => Rem(xs.take(2))),
      Gen.zip(Gen.choose(0, 4), Gen.choose(10L, 19L)).map(t => SetIdx(t._1, t._2)),
      Gen.choose(0, 4).map(DelIdx(_)))
    for (ops <- samples(Gen.nonEmptyListOf(opGen).map(_.take(7)), 6)) {
      val s = CqlSession.emptyTable(spark, "pl",
        StructType(Seq(StructField("id", LongType),
          StructField("l", ArrayType(LongType)),
          StructField("note", StringType))),
        partitionKeys = Seq("id"))
      s.execute("INSERT INTO pl (id, note) VALUES (1, 'keep')") // row marker
      ops.foreach {
        case SetL(xs) => s.execute(
          s"UPDATE pl SET l = [${xs.mkString(", ")}] WHERE id = 1")
        case App(xs) => s.execute(
          s"UPDATE pl SET l = l + [${xs.mkString(", ")}] WHERE id = 1")
        case Rem(xs) => s.execute(
          s"UPDATE pl SET l = l - [${xs.mkString(", ")}] WHERE id = 1")
        case SetIdx(i, v) => s.execute(s"UPDATE pl SET l[$i] = $v WHERE id = 1")
        case DelIdx(i) => s.execute(s"DELETE l[$i] FROM pl WHERE id = 1")
      }
      val model = ops.foldLeft(List.empty[Long]) { (acc, op) =>
        op match {
          case SetL(xs) => xs
          case App(xs) => acc ++ xs
          case Rem(xs) => acc.filterNot(xs.contains)
          case SetIdx(i, v) => if (i < acc.length) acc.updated(i, v) else acc
          case DelIdx(i) =>
            if (i < acc.length) acc.patch(i, Nil, 1) else acc
        }
      }
      val r = s.execute("SELECT l FROM pl WHERE id = 1").head()
      val got = if (r.isNullAt(0)) List.empty[Long] else r.getSeq[Long](0).toList
      assert(got === model, s"ops=$ops")
    }
  }

  test("SOURCE script splitter: random statements with quotes/comments " +
    "round-trip (30 random scripts)") {
    // statement bodies exercising every splitter hazard: semicolons and
    // comment markers INSIDE quotes, escaped quotes, dashes that are not
    // comments, slashes that are not comments
    val word = Gen.oneOf("SELECT x", "UPDATE t SET v = 'a;b'",
      "INSERT 'it''s'", "DELETE 'has--dash'", "VALUES '//notcomment'",
      "a - b", "a / b", "x = 'semi;colon; three;'")
    val stmtGen = Gen.nonEmptyListOf(word).map(_.mkString(" "))
    val scriptGen = for {
      stmts <- Gen.nonEmptyListOf(stmtGen)
      comment <- Gen.oneOf("", "-- a comment\n", "// another\n")
    } yield (stmts, stmts.map(s => comment + s).mkString(";\n") + ";")
    for ((stmts, script) <- samples(scriptGen, 30)) {
      val out = graft.cql.CqlSession.splitCqlScript(script)
      assert(out.length === stmts.length,
        s"script:\n$script\nsplit: $out")
      // every recovered statement equals its source modulo whitespace
      // runs (comments legally collapse to one space)
      out.zip(stmts).foreach { case (got, want) =>
        assert(got.replaceAll("\\s+", " ").trim ===
          want.replaceAll("\\s+", " ").trim, s"script:\n$script")
      }
    }
  }

  test("exact dedup is a fixpoint: dedup(dedup(x)) == dedup(x) (8 random lists)") {
    import spark.implicits._
    for (xs <- samples(Gen.nonEmptyListOf(Gen.choose(0, 5)), 8)) {
      val once = xs.toDF("x").dropDuplicates("x")
      val twice = once.dropDuplicates("x")
      assert(once.exceptAll(twice).count() == 0)
      assert(once.count() == xs.distinct.length.toLong)
    }
  }
}

package graft

import graft.cql.CqlSession
import graft.spark.{ColumnarPartialAggExec, ParamLiteral}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

/** GraftParamLiteralRule: filter constants become codegen parameters, so a
  * plan that differs only in a constant reuses the compiled class, while
  * pushdown, plan text and the columnar kernel's plans stay as they were. */
class ParamLiteralSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def filters(df: DataFrame): Seq[FilterExec] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }

  /** `plan` with every parameter printed back as the literal it replaced */
  private def asLiterals(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec => f.copy(condition = f.condition.transform {
      case ParamLiteral(v, dt) => Literal(v, dt)
    })
  }

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("param-lit").toString + "/t"
    spark.range(0, 2000).selectExpr("id % 200 AS k", "id AS v", "id * 0.5 AS d")
      .write.parquet(d)
    d
  }

  test("a point read with a new key literal compiles nothing new, keeps " +
    "its pushed filter and its plan text, and answers right") {
    def read(k: Long) = spark.read.parquet(dir).filter(col("k") === k)
      .select("k", "v")
    read(1L).collect(); read(2L).collect() // warm
    val before = compilations
    val df = read(7L)
    val got = df.collect().map(_.getLong(1)).sorted.toSeq
    assert(compilations - before === 0L, "a new literal compiled a class")
    assert(got === (0 until 10).map(i => 7L + 200L * i))
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("PushedFilters: [IsNotNull(k), EqualTo(k,7)]"),
      plan.toString)
    val fs = filters(df)
    assert(fs.nonEmpty && fs.forall(_.condition.exists(_.isInstanceOf[ParamLiteral])))
    assert(fs.map(_.treeString) === fs.map(f => asLiterals(f).treeString))
    assert(fs.head.condition.sql.contains("(k = 7L)"), fs.head.condition.sql)
    // range predicates and doubles take the same path
    val r = spark.read.parquet(dir).filter(col("d") >= 900.0 && col("k") < 3)
    assert(r.collect().map(_.getLong(1)).sorted.toSeq === Seq(1800L, 1801L, 1802L))
  }

  test("a CQL point read on a file-backed table compiles nothing per key") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE plk (k bigint, c bigint, v text, PRIMARY KEY (k, c))")
    s.exposeAsCatalog("plkcat")
    spark.sql("INSERT INTO plkcat.default.plk " +
      "SELECT id % 50 AS k, id AS c, concat('v', id) AS v FROM range(500)")
    s.execute("INSERT INTO plk (k, c, v) VALUES (3, 9999, 'fresh')")
    def read(k: Long) = s.execute(s"SELECT c, v FROM plk WHERE k = $k")
      .collect().map(_.getLong(0)).toSeq
    read(1L); read(2L) // warm
    val before = compilations
    val folds = s.foldReads
    assert(read(3L) === (0 until 10).map(i => 3L + 50L * i) :+ 9999L)
    assert(read(4L) === (0 until 10).map(i => 4L + 50L * i))
    assert(compilations - before === 0L)
    assert(s.foldReads === folds + 2)
  }

  test("the columnar kernel still takes the bulk_merge read shape") {
    val s = CqlSession(spark)
    s.execute("CREATE TABLE plitems (lk bigint PRIMARY KEY, qty double, flag text)")
    s.exposeAsCatalog("plagg")
    spark.sql("INSERT INTO plagg.default.plitems SELECT 10 * id + 1 AS lk, " +
      "CAST(id % 7 AS DOUBLE) AS qty, CASE WHEN id % 2 = 0 THEN 'A' ELSE 'N' " +
      "END AS flag FROM range(5000)")
    val df = spark.sql("""SELECT flag, count(*) AS n,
      |CAST(sum(CAST(qty AS DECIMAL(38,6))) AS DOUBLE) AS total, min(lk) AS first_key
      |FROM plagg.default.plitems WHERE lk BETWEEN 1001 AND 20001
      |GROUP BY flag ORDER BY flag""".stripMargin)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("A", 951L), ("N", 950L)))
    assert(collect(df.queryExecution.executedPlan) {
      case e: ColumnarPartialAggExec => e }.nonEmpty,
      df.queryExecution.executedPlan.toString)
  }
}

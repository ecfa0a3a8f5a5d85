package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Divide, Expression,
  ExpressionInfo, Literal, Multiply, Remainder}
import graft.functions.expressions.{CosineSimilarity, DotProduct,
  EuclideanDistance, Md5Prefix64, Murmur3CompositeToken, Murmur3Token,
  QuantizeInt8, RunLengthStats}

/** SQL-surface registration of the engine's native functions via the public
  * `SparkSessionExtensions` hook — enable with
  * `.withExtensions(new GraftExtensions)` or
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`; after that
  * `spark.sql("SELECT cosine_sim(a, b) …")` resolves like any builtin and
  * plans the codegen'd Catalyst expressions directly (no UDF wrapper, no
  * serialization break in whole-stage codegen).
  *
  * Registered names:
  *  - `cosine_sim`, `vec_dot`, `vec_euclidean` — raw cosine / dot / distance
  *    over `array<float>` (the engine's F7 forms, DuckDB-twinnable).
  *  - `similarity_cosine`, `similarity_dot_product`, `similarity_euclidean`
  *    — Cassandra 5.0's CQL names and score semantics [U
  *    cql3/functions/VectorFcts.java, unverifiable per SURVEY §0; mapping is
  *    Lucene's public VectorSimilarityFunction contract]: scores in [0, 1]
  *    via (1+cos)/2, (1+dot)/2, 1/(1+d²).
  *  - `graft_token` — the engine's oracle-able ring token (P3).
  *  - `quantize_int8` — per-vector symmetric int8 quantization (L3+
  *    serving path; decimal HALF_UP, oracle-twinnable).
  *  - `murmur3_token` — Cassandra-exact Murmur3 x64_128 ring token.
  *  - `md5_prefix64` — the sketch pipelines' shared 60-bit token hash
  *    (first 15 hex chars of md5 as BIGINT; DuckDB twin
  *    `('0x'||substr(md5(s),1,15))::BIGINT`), digest-bytes→long.
  *  - `run_length_stats` — bigram repetition stats
  *    struct(n_bigrams, maxrun, dup) from a token array in one pass
  *    (x12's kernel).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // columnar partial aggregation directly over vectorized parquet
    // batches (r11) — swaps ONLY HashAggregate(Partial) + fused Project
    // above a columnar parquet scan; see graft.spark.ColumnarPartialAgg
    ext.injectColumnar(_ => graft.spark.GraftColumnarRule())
    // filter constants read from the codegen references array, so a plan
    // that differs only in a constant reuses the compiled class
    ext.injectColumnar(_ => graft.spark.GraftParamLiteralRule())
  }
}

object GraftExtensions {
  private val half = Literal(0.5)
  private val one = Literal(1.0)

  private def arity(name: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")
    args
  }

  private def fn(name: String, build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name),
      build)

  /** Lucene/Cassandra similarity score mapping: (1 + raw) / 2. */
  private def luceneScore(raw: Expression): Expression =
    Multiply(Add(one, raw), half)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", a => CosineSimilarity(arity("cosine_sim", 2)(a)(0), a(1))),
    fn("vec_dot", a => DotProduct(arity("vec_dot", 2)(a)(0), a(1))),
    fn("vec_euclidean", a => EuclideanDistance(arity("vec_euclidean", 2)(a)(0), a(1))),
    fn("similarity_cosine",
      a => luceneScore(CosineSimilarity(arity("similarity_cosine", 2)(a)(0), a(1)))),
    fn("similarity_dot_product",
      a => luceneScore(DotProduct(arity("similarity_dot_product", 2)(a)(0), a(1)))),
    fn("similarity_euclidean", { a =>
      val d = EuclideanDistance(arity("similarity_euclidean", 2)(a)(0), a(1))
      Divide(one, Add(one, Multiply(d, d)))
    }),
    // same arithmetic as CassandraModel.tokenOf, built as catalyst nodes
    // (a Column round-trip here would leave an unevaluable ColumnNode)
    fn("graft_token", { a =>
      val pk = arity("graft_token", 1)(a)(0)
      Remainder(Multiply(Remainder(pk, Literal(1000003L)), Literal(2654435761L)),
        Literal(2147483647L))
    }),
    // 1 arg = single key; ≥2 args = composite partition key
    // (CompositeType layout, like upstream token(pk1, pk2, …))
    fn("murmur3_token", {
      case Seq(single) => Murmur3Token(single)
      case many if many.size >= 2 => Murmur3CompositeToken(many)
      case other => throw new IllegalArgumentException(
        s"murmur3_token expects at least 1 argument, got ${other.length}")
    }),
    fn("md5_prefix64", a => Md5Prefix64(arity("md5_prefix64", 1)(a)(0))),
    fn("quantize_int8", a => QuantizeInt8(arity("quantize_int8", 1)(a)(0))),
    fn("run_length_stats",
      a => RunLengthStats(arity("run_length_stats", 1)(a)(0))),
  )
}

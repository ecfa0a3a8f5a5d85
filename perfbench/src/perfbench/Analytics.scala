package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.{Q, SparkEntry}

/** `analytics`: 41 read-only keys of `graft.SparkEntry.queries`, one op
  * per key, each forced to the noop sink with `Q.force`. The fixture is
  * generated in Spark from a fixed generator seed ([[Fixture]]), so the
  * recorded answer hashes hold on every run; the run's seed orders the
  * keys of each measured pass. The warm-up pass runs every key once and
  * writes its answer as parquet for run.py to hash. */
final class Analytics(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import Analytics._

  private var dir = ""
  private val answers = work.resolve("answers")

  def setup(rep: Int): Unit = {
    val d = work.resolve(s"fixture-$rep")
    Fixture.write(spark, d)
    dir = d.toString
  }

  def warmUp(rec: Recorder): Unit = {
    Files.createDirectories(answers)
    Keys.foreach { k =>
      rec.op("read", k) { _ =>
        SparkEntry.queries(k)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(answers.resolve(k).toString)
      }(_ => ())
    }
    // the DuckDB twins, read after the queries ran (SparkEntry.oracleSql's
    // ordering contract)
    val twins = SparkEntry.oracleSql.filter { case (k, _) => Keys.contains(k) }
    Files.writeString(answers.resolve("oracle_sql.json"), Json(twins))
  }

  def measure(rec: Recorder, deadlineNs: Long): Unit = {
    val g = new Gen(seed)
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadlineNs) {
      g.perm(Keys.size).foreach { i =>
        val k = Keys(i)
        rec.op("read", k, Map("family" -> familyOf(k))) { sc =>
          val df = sc.span("kernels.compose")(SparkEntry.queries(k)(spark, dir))
          sc.span("runtime.action")(Q.force(df))
        }(_ => ())
      }
      passes += 1
    }
  }

  def finish(): Map[String, Any] = Map(
    "answers_dir" -> answers.toString, "fixture_dir" -> dir, "live_parquet_bytes" -> 0L)
}

object Analytics {
  val Keys: IndexedSeq[String] = IndexedSeq(
    "a1_pricing_summary", "a7_approx_distinct", "a10_percentiles", "j1_broadcast_star",
    "j2_orders_lineitem", "j7_interval", "j8_salted_skew", "j9_six_way", "w1_topk_per_user",
    "w3_lag_gap", "w4_moving", "setop_union", "t1_tumbling",
    "t10_stream_join", "t12_stream_session", "t13_stream_dedup",
    "c1_latest_wins", "c3_compact_stats", "c9_reconcile", "c13_stream_upsert",
    "cat4_bulk_merge", "cql7_paged",
    "d3_minhash_lsh", "d4_simhash", "d6_components", "d7_components_lsh", "d8_semdedup",
    "d9_substring", "d10_canonical",
    "v1_knn_exact", "v6_knn_ivf", "v7_knn_graph", "v12_pq_adc", "v22_codebook_drift",
    "v27_quantized_metric",
    "x8_decontaminate", "x12_repetition", "x17_gopher_rules", "x18_bpe_pairs",
    "x25_pii_redact", "x31_bpe_apply")

  /** Operator family of a key, for the per-family kernel metrics. */
  def familyOf(k: String): String = k.takeWhile(_ != '_') match {
    case "t10" | "t12" | "t13" => "streaming"
    case p if Seq("a", "j", "w", "setop", "t").exists(p.startsWith) => "relational"
    case p if p.startsWith("c") => "cassandra"
    case p if p.startsWith("d") => "dedup"
    case p if p.startsWith("v") => "vector"
    case _ => "text"
  }
}

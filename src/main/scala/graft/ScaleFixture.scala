package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaled copies of a fixture for measured scaling curves (SCALE.md):
  * `runMain graft.ScaleFixture <full|events|lineitem> <factor> <srcDir>`
  * materializes the copy once (an existing dir is reused) and prints its
  * path; timing then goes through [[Profile]] on that dir. The rule-off
  * kernel twin is a second Profile pass with
  * `SPARK_GRAFT_CONF=spark.graft.columnarAgg.enabled=false`.
  *
  *   full     — every table, key-offset unions (`/tmp/graft-scale-<N>x`):
  *              joins keep their selectivity and aggregates their key
  *              cardinality shape, so near-linear wall growth means the
  *              plan has no super-linear term hiding at fixture scale.
  *   events   — events + embeddings only, time-ordered
  *              (`/tmp/graft-asym-<N>x`; 1000× ≈ 100 M event rows).
  *   lineitem — lineitem only, 32 production-sized files
  *              (`/tmp/graft-asym-li-<N>x`; 167× ≈ 100 M rows).
  */
object ScaleFixture {

  private def copies(f: Int, df: DataFrame)(
      shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until f).map(i => shift(df, i)).reduce(_ unionByName _)

  /** Runs `write` into `out` unless `out` already exists. */
  private def once(out: String)(write: => Unit): Unit = {
    val fs = new java.io.File(out)
    if (!fs.exists()) { fs.mkdirs(); write }
  }

  private def full(s: SparkSession, src: String, out: String, f: Int): Unit =
    once(out) {
      val li = s.read.parquet(s"$src/lineitem.parquet")
      copies(f, li)((d, i) => d.withColumn("l_orderkey",
          col("l_orderkey") + lit(i.toLong * 10000000L)))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      val or = s.read.parquet(s"$src/orders.parquet")
      copies(f, or)((d, i) => d.withColumn("o_orderkey",
          col("o_orderkey") + lit(i.toLong * 10000000L)))
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      val ev = s.read.parquet(s"$src/events.parquet")
      copies(f, ev)((d, i) => d
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
          .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L)))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      val doc = s.read.parquet(s"$src/documents.parquet")
      copies(f, doc)((d, i) => d
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          // vary the text per copy so dedup sketches see distinct-but-
          // similar docs (the realistic hard case), not literal clones
          .withColumn("text", concat(col("text"), lit(s" uniq${i}marker"))))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val em = s.read.parquet(s"$src/embeddings.parquet")
      copies(f, em)((d, i) => d.withColumn("vec_id",
          col("vec_id") + lit(i.toLong * 10000000L)))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        s.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }

  private def events(s: SparkSession, src: String, out: String, f: Int): Unit =
    once(out) {
      val ev = s.read.parquet(s"$src/events.parquet")
      // TIME-ORDERED layout (r13): a production events table is written in
      // ingest order and compacted time-windowed (TWCS), so row-group
      // min/max on ts partitions the timeline — the layout t17's pruned
      // tail read models. The unsorted union (every copy spanning the full
      // range) would defeat min/max pruning in a way no real events table
      // does. Same bytes per row for every other query on this fixture.
      copies(f, ev)((d, i) => d
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
          .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L)))
        .orderBy("ts")
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      val em = s.read.parquet(s"$src/embeddings.parquet")
      copies(f, em)((d, i) => d.withColumn("vec_id",
          col("vec_id") + lit(i.toLong * 10000000L)))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

  /** Natural TPC-H layout (orderkey-clustered, the generator's write
    * order); keys shifted per copy so joins/windows stay sane. */
  private def lineitem(s: SparkSession, src: String, out: String, f: Int): Unit =
    once(out) {
      val li = s.read.parquet(s"$src/lineitem.parquet")
      copies(f, li)((d, i) => d.withColumn("l_orderkey",
          col("l_orderkey") + lit(i.toLong * 100000000L)))
        // coalesce (no shuffle: orderkey clustering per branch survives) to
        // production-sized files — the raw union writes one ~10 MB file per
        // branch, and 168 tiny files measures per-file reader setup, not
        // the scan; a real 100 M-row table ships tens of large files
        .coalesce(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }

  def main(args: Array[String]): Unit = {
    val (kind, factor, src) = args match {
      case Array(k, f, s) if Set("full", "events", "lineitem")(k) &&
          f.forall(_.isDigit) && f.nonEmpty => (k, f.toInt, s)
      case _ =>
        System.err.println(
          "usage: graft.ScaleFixture <full|events|lineitem> <factor> <srcDir>")
        sys.exit(2)
    }
    val (out, write) = kind match {
      case "full" => (s"/tmp/graft-scale-${factor}x", full _)
      case "events" => (s"/tmp/graft-asym-${factor}x", events _)
      case _ => (s"/tmp/graft-asym-li-${factor}x", lineitem _)
    }
    val spark = GraftSession.build()
    try write(spark, src, out, factor) finally spark.stop()
    println(out)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one place a local engine session is built ([[Bench]], [[Verify]],
  * [[Profile]], [[ScaleFixture]]). Cores come from `SPARK_GRAFT_CPUS`,
  * else this host's available processors, so a default never asks for
  * more cores than the host has. */
object GraftSession {
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the generated-code cache defaults to 100 entries; the suite
      // holds 210 queries x several codegen units each, so the default
      // evicts-and-recompiles janino units inside the measured passes
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

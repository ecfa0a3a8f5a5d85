package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The analytics fixture: the ten tables the repository's queries read
  * (TPC-H-like star schema plus events, documents and embeddings), at
  * about a tenth of the sf0.1 row counts, generated in Spark from
  * `range(n)` and a fixed generator seed. Each table is written as one
  * parquet file `<dir>/<name>.parquet`, so DuckDB can read the same files.
  * `events.ts` is integer nanoseconds, as in the repository's fixtures
  * read with `nanosAsLong`. */
object Fixture {
  val GenSeed = 42L
  val Rows: Map[String, Int] = Map("region" -> 5, "nation" -> 25, "supplier" -> 100,
    "customer" -> 1500, "part" -> 2000, "orders" -> 15000, "lineitem" -> 60000,
    "events" -> 10000, "documents" -> 500, "embeddings" -> 200)

  import Seeded.{sqlArray => arr}
  private val h = Seeded.sqlHash(GenSeed) _
  private def pm(j: Int, n: Int): String = s"pmod(${h(j)}, $n)"
  private def pmL(j: Int, n: Int): String = s"CAST(${pm(j, n)} AS BIGINT)"
  private def pick(j: Int, xs: Seq[String]) = s"element_at(${arr(xs)}, 1 + ${pm(j, xs.size)})"

  private val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  private val NationRegion = Seq(0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1)
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Colors = Seq("almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blue", "blush", "brown", "burlywood", "chartreuse", "chiffon",
    "coral", "cornflower", "cream", "cyan", "dark", "deep", "dim", "dodger", "drab", "firebrick")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Seq("the", "of", "and", "to", "in", "data", "model", "system", "query",
    "table", "spark", "stream", "vector", "index", "token", "merge", "write", "read", "cache",
    "node", "time", "value", "user", "event", "page", "text", "word", "corpus", "filter",
    "score", "rank", "join", "group", "order", "key", "row", "column", "batch", "shard",
    "replica", "commit", "log", "snapshot", "compact", "bloom", "hash", "sketch", "window",
    "session", "state", "email", "phone", "contact", "address", "number", "code", "test",
    "benchmark", "answer", "question", "train", "eval", "learn", "network", "layer", "weight",
    "graph", "edge", "path", "cluster", "center", "distance", "metric", "error", "signal")

  private def tables: Seq[(String, String)] = Seq(
    "region" -> s"SELECT CAST(id AS INT) AS r_regionkey, element_at(${arr(Regions)}, CAST(id AS INT) + 1) AS r_name FROM range(5)",
    "nation" -> s"""SELECT CAST(id AS INT) AS n_nationkey, element_at(${arr(Nations)}, CAST(id AS INT) + 1) AS n_name,
      |element_at(array(${NationRegion.mkString(", ")}), CAST(id AS INT) + 1) AS n_regionkey FROM range(25)""".stripMargin,
    "supplier" -> s"""SELECT id + 1 AS s_suppkey, concat('Supplier#', lpad(CAST(id + 1 AS STRING), 9, '0')) AS s_name,
      |CAST(${pm(1, 25)} AS INT) AS s_nationkey, CAST(${pm(2, 1099999)} - 99999 AS DOUBLE) / 100D AS s_acctbal
      |FROM range(${Rows("supplier")})""".stripMargin,
    "customer" -> s"""SELECT id + 1 AS c_custkey, concat('Customer#', lpad(CAST(id + 1 AS STRING), 9, '0')) AS c_name,
      |CAST(${pm(1, 25)} AS INT) AS c_nationkey, CAST(${pm(2, 1099999)} - 99999 AS DOUBLE) / 100D AS c_acctbal,
      |${pick(3, Segments)} AS c_mktsegment FROM range(${Rows("customer")})""".stripMargin,
    "part" -> s"""SELECT id + 1 AS p_partkey, concat(${pick(1, Colors)}, ' ', ${pick(2, Colors)}) AS p_name,
      |concat('Brand#', 1 + ${pm(3, 5)}, 1 + ${pm(4, 5)}) AS p_brand,
      |concat(${pick(5, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"))}, ' ',
      |  ${pick(6, Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"))}, ' ',
      |  ${pick(7, Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"))}) AS p_type,
      |CAST(1 + ${pm(8, 50)} AS INT) AS p_size, 900D + CAST(${pm(9, 110000)} AS DOUBLE) / 100D AS p_retailprice
      |FROM range(${Rows("part")})""".stripMargin,
    "orders" -> s"""SELECT 4 * id + 1 AS o_orderkey, 1 + ${pmL(1, Rows("customer"))} AS o_custkey,
      |${pick(2, Seq("F", "O", "P"))} AS o_orderstatus, CAST(${pm(3, 50000000)} AS DOUBLE) / 100D AS o_totalprice,
      |timestamp_millis(694224000000 + ${pmL(4, 2400)} * 86400000) AS o_orderdate,
      |${pick(5, Priorities)} AS o_orderpriority FROM range(${Rows("orders")})""".stripMargin,
    "lineitem" -> s"""SELECT 4 * (id div 4) + 1 AS l_orderkey, 1 + ${pmL(1, Rows("part"))} AS l_partkey,
      |1 + ${pmL(2, Rows("supplier"))} AS l_suppkey, CAST(id % 4 + 1 AS INT) AS l_linenumber,
      |CAST(1 + ${pm(3, 50)} AS DOUBLE) AS l_quantity,
      |CAST(1 + ${pm(3, 50)} AS DOUBLE) * (900D + CAST(${pm(4, 110000)} AS DOUBLE) / 100D) AS l_extendedprice,
      |CAST(${pm(5, 11)} AS DOUBLE) / 100D AS l_discount, CAST(${pm(6, 9)} AS DOUBLE) / 100D AS l_tax,
      |${pick(7, Seq("R", "A", "N", "N"))} AS l_returnflag, ${pick(8, Seq("O", "F"))} AS l_linestatus,
      |timestamp_millis(694224000000 + ${pmL(9, 2500)} * 86400000) AS l_shipdate
      |FROM range(${Rows("lineitem")})""".stripMargin,
    "events" -> s"""SELECT id AS event_id,
      |1704067200000000000 + ${pmL(1, 2592000)} * 1000000000 + ${pmL(2, 1000000)} * 1000 AS ts,
      |1 + ${pmL(3, 200)} AS user_id, ${pick(4, Seq("click", "view", "view", "purchase", "signup", "error"))} AS event_type,
      |CAST(${pm(5, 100000)} AS DOUBLE) / 100D AS value, concat('{"k": ', ${pm(6, 100)}, '}') AS props
      |FROM range(${Rows("events")})""".stripMargin,
    // every fifth document repeats its predecessor's words with a few
    // substitutions, so the dedup keys find near-duplicate pairs
    "documents" -> s"""SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars FROM (
      |SELECT id AS doc_id,
      |  concat_ws(' ', transform(sequence(1, 30 + pmod(hash(base, CAST($GenSeed AS BIGINT), 1), 90)),
      |    x -> IF(id != base AND pmod(hash(id, x), 12) = 0,
      |      element_at(${arr(Words)}, 1 + pmod(hash(id, x, 2), ${Words.size})),
      |      element_at(${arr(Words)}, 1 + pmod(hash(base, x, 3), ${Words.size}))))) AS text,
      |  ${pick(4, Seq("en", "en", "en", "es", "fr", "de", "zh"))} AS lang,
      |  concat('src', ${pm(5, 20)}) AS source
      |FROM (SELECT id, IF(pmod(hash(id, CAST($GenSeed AS BIGINT), 0), 5) = 0 AND id > 0, id - 1, id) AS base
      |      FROM range(${Rows("documents")})))""".stripMargin,
    // ten label centroids plus noise
    "embeddings" -> s"""SELECT id AS vec_id,
      |transform(sequence(0, 63), x -> CAST((pmod(hash(label, x, 1), 2001) - 1000) / 10000D
      |  + (pmod(hash(id, x, 2), 2001) - 1000) / 40000D AS FLOAT)) AS embedding, label
      |FROM (SELECT id, CAST(${pm(1, 10)} AS INT) AS label FROM range(${Rows("embeddings")}))""".stripMargin)

  def write(spark: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    tables.foreach { case (name, sql) =>
      val tmp = dir.resolve(s"$name.tmp")
      spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val s = Files.walk(tmp)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}

package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic tables with the schemas of the project's test
  * data (TPC-H-like star schema plus `events`, `documents` and
  * `embeddings`). Every value is a pure function of (seed, row id, column
  * salt) through `xxhash64`, so the same seed writes the same rows no
  * matter how Spark partitions the work. `sf` scales row counts the way
  * the test data does: sf0.1 is ~600k lineitem rows. */
object DataGen {

  private val Vocab = Seq("the", "a", "fast", "slow", "big", "small", "key",
    "order", "sort", "table", "scan", "merge", "part", "window", "hash",
    "join", "batch", "stream", "spark", "group", "query", "row", "data",
    "filter", "customer", "line", "value", "agg", "column", "vector")

  /** Uniform long in [0, m), from the row id and a per-column salt. */
  private def u(seed: Long, salt: Int, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(m))

  /** Uniform double in [0, 1) with 1e-6 resolution. */
  private def ud(seed: Long, salt: Int, id: Column = col("id")): Column =
    u(seed, salt, 1000000L, id).cast(DoubleType) / 1e6

  private def cents(c: Column): Column = round(c, 2)

  private val Day = 86400L

  private def ts(epochSec: Column): Column = timestamp_seconds(epochSec)

  def rows(sf: Double): Map[String, Long] = Map(
    "customer" -> math.max(150L, (150000 * sf).toLong),
    "supplier" -> math.max(10L, (10000 * sf).toLong),
    "part" -> math.max(200L, (200000 * sf).toLong),
    "orders" -> math.max(1500L, (1500000 * sf).toLong),
    "lineitem" -> math.max(6000L, (6000000 * sf).toLong),
    "events" -> math.max(1000L, (1000000 * sf).toLong),
    "documents" -> (if (sf >= 0.1) 5000L else 500L),
    "embeddings" -> (if (sf >= 0.1) 2000L else 500L))

  /** Table `name`, or the rows with ids in `[from, until)` of it; the rows
    * are split into `parts` contiguous id ranges. */
  def table(spark: SparkSession, name: String, sf: Double, seed: Long,
      parts: Int = 4, ids: Option[(Long, Long)] = None): DataFrame = {
    val n = rows(sf)
    def range(k: String) = ids.map { case (a, b) => spark.range(a, b, 1, parts) }
      .getOrElse(spark.range(0, n(k), 1, parts))
    val y1995 = 788918400L // 1995-01-01 UTC
    name match {
      case "region" =>
        spark.range(5).select(col("id").cast(IntegerType).as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
            .map(lit): _*), col("id").cast(IntegerType) + 1).as("r_name"))
      case "nation" =>
        spark.range(25).select(col("id").cast(IntegerType).as("n_nationkey"),
          concat(lit("NATION_"), col("id")).as("n_name"),
          (col("id") % 5).cast(IntegerType).as("n_regionkey"))
      case "customer" =>
        range("customer").select(col("id").as("c_custkey"),
          format_string("Customer#%09d", col("id")).as("c_name"),
          u(seed, 1, 25).cast(IntegerType).as("c_nationkey"),
          cents(ud(seed, 2) * 10999.99 - 999.99).as("c_acctbal"),
          element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY").map(lit): _*), u(seed, 3, 5).cast(IntegerType) + 1)
            .as("c_mktsegment"))
      case "supplier" =>
        range("supplier").select(col("id").as("s_suppkey"),
          format_string("Supplier#%09d", col("id")).as("s_name"),
          u(seed, 11, 25).cast(IntegerType).as("s_nationkey"),
          cents(ud(seed, 12) * 10999.99 - 999.99).as("s_acctbal"))
      case "part" =>
        val adj = array(Seq("small", "red", "blue", "green", "large", "steel",
          "shiny", "dark").map(lit): _*)
        val noun = array(Seq("ring", "widget", "bolt", "anvil", "gear", "nut",
          "spring", "valve").map(lit): _*)
        range("part").select(col("id").as("p_partkey"),
          concat_ws(" ", element_at(adj, u(seed, 21, 8).cast(IntegerType) + 1),
            element_at(noun, u(seed, 22, 8).cast(IntegerType) + 1)).as("p_name"),
          concat(lit("Brand#"), u(seed, 23, 25) + 1).as("p_brand"),
          element_at(array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
            "STANDARD").map(lit): _*), u(seed, 24, 6).cast(IntegerType) + 1).as("p_type"),
          (u(seed, 25, 50) + 1).cast(IntegerType).as("p_size"),
          (lit(900.0) + (col("id") % 1000).cast(DoubleType) / 10).as("p_retailprice"))
      case "orders" =>
        range("orders").select(col("id").as("o_orderkey"),
          u(seed, 31, n("customer")).as("o_custkey"),
          element_at(array(lit("F"), lit("O"), lit("P")),
            u(seed, 32, 3).cast(IntegerType) + 1).as("o_orderstatus"),
          cents(ud(seed, 33) * 498900.0 + 1000.0).as("o_totalprice"),
          ts(lit(y1995) + u(seed, 34, 2405) * Day).as("o_orderdate"),
          element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW").map(lit): _*), u(seed, 35, 5).cast(IntegerType) + 1)
            .as("o_orderpriority"))
      case "lineitem" =>
        val qty = (u(seed, 43, 50) + 1).cast(DoubleType)
        range("lineitem").select(u(seed, 41, n("orders")).as("l_orderkey"),
          u(seed, 42, n("part")).as("l_partkey"),
          u(seed, 44, n("supplier")).as("l_suppkey"),
          (u(seed, 45, 7) + 1).cast(IntegerType).as("l_linenumber"),
          qty.as("l_quantity"),
          cents(qty * (lit(900.0) + ud(seed, 46) * 1200.0)).as("l_extendedprice"),
          (u(seed, 47, 11).cast(DoubleType) / 100).as("l_discount"),
          (u(seed, 48, 9).cast(DoubleType) / 100).as("l_tax"),
          element_at(array(lit("A"), lit("N"), lit("R")),
            u(seed, 49, 3).cast(IntegerType) + 1).as("l_returnflag"),
          element_at(array(lit("F"), lit("O")),
            u(seed, 50, 2).cast(IntegerType) + 1).as("l_linestatus"),
          ts(lit(y1995 + Day) + u(seed, 51, 2499) * Day).as("l_shipdate"))
      case "events" =>
        val span = 30L * Day
        range("events").select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            (col("id") * (span * 1000000L / n("events"))) +
            u(seed, 61, span * 1000000L / n("events"))).as("ts"),
          u(seed, 62, math.max(150L, n("customer") / 10)).as("user_id"),
          element_at(array(Seq("click", "view", "purchase", "signup", "error")
            .map(lit): _*), u(seed, 63, 5).cast(IntegerType) + 1).as("event_type"),
          cents(exp(ud(seed, 64) * 6.2) + 0.01).as("value"),
          format_string("{\"k\": %d}", u(seed, 65, 100)).as("props"))
      case "documents" =>
        val nDocs = n("documents")
        val vocab = array(Vocab.map(lit): _*)
        // ~5% of documents are a near-duplicate of an earlier one (its
        // text plus a trailing " dup"), which the dedup queries look for
        def body(id: Column) = concat_ws(" ", transform(
          sequence(lit(1L), u(seed, 71, 85, id) + 8),
          k => element_at(vocab, (pmod(xxhash64(id, k, lit(seed)), lit(30L)) + 1)
            .cast(IntegerType))))
        val isDup = col("id") >= 20 && u(seed, 72, 20) === 0
        val src = when(isDup, u(seed, 73, 20) * (col("id") / 20)).otherwise(col("id"))
        range("documents")
          .select(col("id"), isDup.as("dup"), body(src).as("b"))
          .select(col("id").as("doc_id"),
            when(col("dup"), concat(col("b"), lit(" dup"))).otherwise(col("b")).as("text"),
            element_at(array(Seq("en", "en", "fr", "es", "de", "zh").map(lit): _*),
              u(seed, 74, 6).cast(IntegerType) + 1).as("lang"),
            concat(lit("src"), col("id") % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast(LongType))
          .repartition(1).sortWithinPartitions("doc_id")
          .limit(nDocs.toInt)
      case "embeddings" =>
        val label = u(seed, 81, 10)
        range("embeddings").select(col("id").as("vec_id"),
          transform(sequence(lit(0L), lit(63L)), k =>
            (sin(label.cast(DoubleType) * 1.7 + k.cast(DoubleType) * 0.37) +
              (pmod(xxhash64(col("id"), k, lit(seed)), lit(1000000L))
                .cast(DoubleType) / 1e6 - 0.5) * 0.6).cast(FloatType)).as("embedding"),
          label.cast(IntegerType).as("label"))
    }
  }

  /** Writes table `name` as `<dir>/<name>.parquet`, one file like the
    * project's test data. */
  def write(spark: SparkSession, name: String, dir: String, sf: Double, seed: Long): Unit =
    table(spark, name, sf, seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$name.parquet")
}

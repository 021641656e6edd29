package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The board's input tables, generated in the benchmark's set-up with
  * the schemas and value domains the queries read (FIXTURES.md): the
  * TPC-H-ish star, `events`, `documents` and `embeddings`. Row counts
  * follow the sf0.01 fixture, scaled by `scale`. Every value is a hash of
  * the row id and a column salt, so the tables are the same on every run
  * and at every partitioning; the board pins its expected results on
  * them. */
object BoardFixture {
  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")

  /** Uniform integer in [0, n) from the row id and a salt. */
  private def h(id: Column, salt: Int, n: Long): Column = pmod(xxhash64(id, lit(salt)), lit(n))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(id, salt, values.size.toLong) + 1).cast("int"))

  private def range(spark: SparkSession, n: Long): DataFrame = spark.range(0, n, 1, 1).toDF("id")

  /** Writes the ten tables, four at a time. */
  def write(spark: SparkSession, dir: Path, scale: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    val id = col("id")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pending = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def save(name: String, df: DataFrame): Unit =
      pending += pool.submit(new Runnable {
        def run(): Unit = df.write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
      })
    val (nCust, nSupp, nPart, nOrd, nLine) = (n(1500), n(100), n(2000), n(15000), n(60000))

    save("region", range(spark, 5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    save("nation", range(spark, 25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey")))
    save("customer", range(spark, nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), h(id, 1, 25).cast("int").as("c_nationkey"),
      (h(id, 2, 1099999) / 100.0 - 999.99).as("c_acctbal"),
      pick(id, 3, Seq("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")).as("c_mktsegment")))
    save("supplier", range(spark, nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), h(id, 4, 25).cast("int").as("s_nationkey"),
      (h(id, 5, 1099999) / 100.0 - 999.99).as("s_acctbal")))
    save("part", range(spark, nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, Seq("small", "red", "blue", "hot", "old", "large", "green", "shiny")),
        pick(id, 7, Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"))).as("p_name"),
      concat(lit("Brand#"), h(id, 8, 25) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")).as("p_type"),
      (h(id, 10, 50) + 1).cast("int").as("p_size"), (h(id, 11, 1100) + 900.0).as("p_retailprice")))
    val day = 86400L * 1000000L
    val base1995 = 788918400L * 1000000L
    save("orders", range(spark, nOrd).select(id.as("o_orderkey"), h(id, 12, nCust).as("o_custkey"),
      pick(id, 13, Seq("P", "F", "O")).as("o_orderstatus"), (h(id, 14, 50000000) / 100.0 + 800.0).as("o_totalprice"),
      timestamp_micros(lit(base1995) + h(id, 15, 2404) * day).as("o_orderdate"),
      pick(id, 16, Seq("5-LOW", "4-NOT SPECIFIED", "2-HIGH", "1-URGENT", "3-MEDIUM")).as("o_orderpriority")))
    save("lineitem", range(spark, nLine).select(h(id, 17, nOrd).as("l_orderkey"), h(id, 18, nPart).as("l_partkey"),
      h(id, 19, nSupp).as("l_suppkey"), (h(id, 20, 7) + 1).cast("int").as("l_linenumber"),
      (h(id, 21, 50) + 1.0).as("l_quantity"), (h(id, 22, 10409606) / 100.0 + 901.82).as("l_extendedprice"),
      (h(id, 23, 11) / 100.0).as("l_discount"), (h(id, 24, 9) / 100.0).as("l_tax"),
      pick(id, 25, Seq("A", "N", "R")).as("l_returnflag"), pick(id, 26, Seq("F", "O")).as("l_linestatus"),
      timestamp_micros(lit(base1995) + h(id, 27, 2498) * day).as("l_shipdate")))
    val jan2024 = 1704067200L * 1000000L
    save("events", range(spark, n(10000)).select(id.as("event_id"),
      timestamp_micros(lit(jan2024) + id * (30L * day / n(10000)) + h(id, 28, 60000000)).as("ts"),
      h(id, 29, 150).as("user_id"), pick(id, 30, Seq("error", "click", "view", "signup", "purchase")).as("event_type"),
      (h(id, 31, 49001) / 100.0 + 0.01).as("value"), concat(lit("{\"k\": "), h(id, 32, 100), lit("}")).as("props")))
    // word-soup documents; every 20th document is a near-duplicate of its
    // predecessor (same words plus "dup"), as in the shipped corpus
    val src = when(pmod(id, lit(20)) === 19, id - 1).otherwise(id)
    val words = transform(sequence(lit(1), (h(src, 33, 40) + 8).cast("int")),
      i => element_at(array(Vocab.map(lit): _*), (pmod(xxhash64(src, i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val docs = range(spark, n(500)).select(id.as("doc_id"),
      concat_ws(" ", when(pmod(id, lit(20)) === 19, concat(words, array(lit("dup")))).otherwise(words)).as("text"),
      pick(id, 34, Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
      concat(lit("src"), pmod(id, lit(20))).as("source"))
    save("documents", docs.withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", range(spark, n(500)).select(id.as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(id, i), lit(20001L)) - 10000) / 100000.0 +
          when(i === pmod(id, lit(10)) + 1, lit(0.5)).otherwise(lit(0.0))).cast("float")).as("embedding"),
      pmod(id, lit(10)).cast("int").as("label")))
    try pending.foreach(_.get()) finally pool.shutdown()
  }
}

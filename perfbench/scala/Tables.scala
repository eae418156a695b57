package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The headline entries' input tables, generated from the benchmark seed
  * in the schema and at the row counts of the sf0.01 test set. Every value
  * is a hash of (seed, row id, column salt), so a seed always yields the
  * same bytes whatever the partitioning. */
object Tables {
  val Lineitem = 60000L
  val Orders = 15000L
  val Events = 10000L
  val Users = 150L
  val Documents = 500L
  val Embeddings = 500L
  val Dim = 64

  private val Vocab = Seq("the", "a", "data", "spark", "query", "join", "agg", "sort",
    "hash", "merge", "scan", "filter", "window", "batch", "stream", "table", "row",
    "column", "key", "value", "order", "line", "part", "customer", "fast", "slow",
    "big", "small", "vector", "dup", "group", "index", "graph", "node", "edge", "page",
    "crawl", "entity", "link", "text")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    def h(salt: Int, extra: Column*): Column =
      xxhash64((lit(seed) +: col("id") +: lit(salt) +: extra): _*)
    def int(salt: Int, n: Long, extra: Column*): Column = pmod(h(salt, extra: _*), lit(n))
    def unit(salt: Int, extra: Column*): Column = int(salt, 1000000L, extra: _*) / 1e6
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (int(salt, xs.size.toLong) + 1).cast("int"))
    def day(baseEpochSeconds: Long, salt: Int, days: Int): Column =
      timestamp_seconds(lit(baseEpochSeconds) + int(salt, days.toLong) * 86400L)
    def save(name: String, rows: Long, cols: Column*): Unit =
      spark.range(rows).select(cols: _*).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("lineitem", Lineitem,
      int(1, Orders).as("l_orderkey"), int(2, 2000).as("l_partkey"),
      int(3, 100).as("l_suppkey"), (int(4, 7) + 1).cast("int").as("l_linenumber"),
      (int(5, 50) + 1).cast("double").as("l_quantity"),
      round((int(5, 50) + 1) * (lit(900.0) + unit(6) * 1200.0), 2).as("l_extendedprice"),
      (int(7, 11) / 100.0).as("l_discount"), (int(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"), pick(10, Seq("O", "F")).as("l_linestatus"),
      day(789004800L, 11, 2500).as("l_shipdate"))
    save("orders", Orders,
      col("id").as("o_orderkey"), int(1, 1500).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + unit(3) * 300000.0, 2).as("o_totalprice"),
      day(694224000L, 4, 2400).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save("events", Events,
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + int(1, 30L * 86400L * 1000000L)).as("ts"),
      int(2, Users).as("user_id"),
      pick(3, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(unit(4) * 500.0, 2).as("value"),
      concat(lit("{\"k\": "), int(5, 100).cast("string"), lit("}")).as("props"))
    val words = transform(sequence(lit(1), (int(1, 73) + 8).cast("int")),
      j => element_at(array(Vocab.map(lit): _*), (int(2, Vocab.size.toLong, j) + 1).cast("int")))
    spark.range(Documents).select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        pick(3, Seq("en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), int(4, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    save("embeddings", Embeddings,
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(Dim)), j => (unit(1, j) * 0.6 - 0.3).cast("float")).as("embedding"),
      int(2, 10).cast("int").as("label"))
  }
}

package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the analytics fixtures: the TPC-H-like star schema,
  * `events`, `documents` and `embeddings`, with the column names and types
  * the engine's `Tables.load` expects, at roughly a hundredth of TPC-H
  * scale factor 1 (60 000 line items). Every value is a hash of (seed,
  * column, row id), so a seed gives the same tables whatever the
  * partitioning. Event times are written as long epoch nanoseconds, the
  * engine's canonical form, so no normalization cache is built.
  */
object Fixtures {
  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "customer", "query", "filter", "stream", "group", "vector",
    "index", "commit", "snapshot", "bucket", "shuffle", "token", "model",
    "train", "sample", "dedup")

  /** Writes the tables under `dir`; returns the rows written. */
  def generate(spark: SparkSession, dir: String, seed: Long): Long = {
    // uniform double in [0, 1) from (seed, salt, id)
    def u(salt: Int, id: Column = col("id")): Column =
      pmod(xxhash64(lit(seed), lit(salt), id), lit(1000000007L)).cast("double") / 1000000007.0
    def pick(salt: Int, choices: Seq[String]): Column =
      element_at(array(choices.map(lit): _*), (u(salt) * choices.size).cast("int") + 1)
    def int(salt: Int, lo: Int, hi: Int): Column =
      (lit(lo) + (u(salt) * (hi - lo + 1)).cast("int")).cast("int")
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), (u(salt) * days).cast("int"))
        .cast("timestamp_ntz")
    def write(name: String, df: DataFrame, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    var total = 0L
    def rows(n: Long) = { total += n; spark.range(0, n, 1, 4) }

    write("region", rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        col("id").cast("int") + 1).as("r_name")), 1)
    write("nation", rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), 1)
    write("customer", rows(1500).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(1, 0, 24).as("c_nationkey"),
      round(u(2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), 2)
    write("supplier", rows(100).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      int(4, 0, 24).as("s_nationkey"),
      round(u(5) * 11000 - 1000, 2).as("s_acctbal")), 1)
    write("part", rows(2000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("red", "blue", "green", "small", "large")),
        pick(7, Seq("ring", "widget", "bolt", "anvil", "gear", "spring"))).as("p_name"),
      concat(lit("Brand#"), int(8, 1, 25)).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      int(10, 1, 50).as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")), 2)
    write("orders", rows(15000).select(col("id").as("o_orderkey"),
      (u(11) * 1500).cast("long").as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(13) * 499000 + 1000, 2).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), 4)
    write("lineitem", rows(60000).select(
      (u(16) * 15000).cast("long").as("l_orderkey"),
      (u(17) * 2000).cast("long").as("l_partkey"),
      (u(18) * 100).cast("long").as("l_suppkey"),
      int(19, 1, 7).as("l_linenumber"),
      int(20, 1, 50).cast("double").as("l_quantity"),
      round(u(21) * 104000 + 900, 2).as("l_extendedprice"),
      (int(22, 0, 10) / 100.0).as("l_discount"),
      (int(23, 0, 8) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2498).as("l_shipdate")), 4)
    val epoch2024Ns = 1704067200L * 1000000000L
    write("events", rows(10000).select(col("id").as("event_id"),
      (lit(epoch2024Ns) + col("id") * 259000000000L +
        (u(27) * 259000000000.0).cast("long")).as("ts"),
      (u(28) * u(29) * 150).cast("long").as("user_id"),
      pick(30, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(31) * 0.9999) * 50 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), int(32, 0, 99), lit("}")).as("props")), 4)
    // documents: one in ten copies an earlier document's text, so the
    // exact and near-duplicate queries find pairs
    val words = array(vocab.map(lit): _*)
    val text = (id: Column) => concat_ws(" ", transform(
      sequence(lit(1), lit(10) + (u(33, id) * 80).cast("int")),
      i => element_at(words,
        (pmod(xxhash64(lit(seed), lit(34), id, i), lit(vocab.size.toLong)) + 1).cast("int"))))
    val src = when(u(35) < 0.1, (u(36) * col("id")).cast("long")).otherwise(col("id"))
    write("documents", rows(500).select(col("id").as("doc_id"), text(src).as("text"),
      pick(37, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), int(38, 0, 19)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), 2)
    // embeddings: ten labelled clusters of 64-dim unit-scale vectors
    val label = int(39, 0, 9)
    val dims = sequence(lit(0), lit(63))
    write("embeddings", rows(500).select(col("id").as("vec_id"), label.as("label"))
      .select(col("vec_id"), col("label"), transform(dims, d =>
        ((pmod(xxhash64(lit(seed), lit(40), col("label"), d), lit(1000L)) / 1000.0 - 0.5) * 0.5 +
          (pmod(xxhash64(lit(seed), lit(41), col("vec_id"), d), lit(1000L)) / 1000.0 - 0.5) * 0.15)
          .cast("float")).as("embedding"))
      .select("vec_id", "embedding", "label"), 2)
    total
  }
}

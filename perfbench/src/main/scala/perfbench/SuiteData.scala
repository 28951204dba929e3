package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query suite's input tables, generated in-process: the ten
  * tables the queries read (TPC-H-shaped `region` .. `lineitem`, plus
  * `events`, `documents`, `embeddings`), at the row counts and value
  * domains of the repository's sf0.01 fixtures. Every value is a hash
  * of (data seed, row id, column), so a seed always gives the same
  * tables whatever the partitioning. Each table is one parquet file.
  */
object SuiteData {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val Words = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    def h(salt: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    def uni(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
    def money(salt: Int, lo: Double, cents: Long, cs: Column*): Column =
      round(lit(lo) + uni(salt, cents, cs: _*) / 100.0, 2)
    def pick(salt: Int, xs: Seq[String], cs: Column*): Column =
      element_at(array(xs.map(lit): _*), (uni(salt, xs.size.toLong, cs: _*) + 1).cast("int"))
    def ts(salt: Int, base: String, spanSec: Long, cs: Column*): Column =
      timestamp_micros(lit(java.sql.Timestamp.valueOf(base).getTime * 1000L) +
        uni(salt, spanSec * 1000000L, cs: _*))
    def day(salt: Int, base: String, days: Long, cs: Column*): Column =
      to_timestamp(date_add(lit(java.sql.Date.valueOf(base)), uni(salt, days, cs: _*).cast("int")))
    val id = col("id")
    val writes = Seq.newBuilder[(String, DataFrame)]
    def save(name: String, df: DataFrame): Unit = writes += name -> df

    save("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5L)).cast("int").as("n_regionkey")))
    save("customer", spark.range(1500).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uni(1, 25, id).cast("int").as("c_nationkey"),
      money(2, -999.99, 1099998, id).as("c_acctbal"),
      pick(3, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"), id)
        .as("c_mktsegment")))
    save("supplier", spark.range(100).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uni(4, 25, id).cast("int").as("s_nationkey"),
      money(5, -999.99, 1099998, id).as("s_acctbal")))
    save("part", spark.range(2000).select(id.as("p_partkey"),
      concat_ws(" ", pick(6, Seq("small", "red", "blue", "green", "large", "shiny"), id),
        pick(7, Seq("ring", "widget", "bolt", "gear", "spring", "valve"), id)).as("p_name"),
      concat(lit("Brand#"), uni(8, 25, id) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"), id).as("p_type"),
      (uni(10, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + id / 10.0, 2).as("p_retailprice")))
    save("orders", spark.range(15000).select(id.as("o_orderkey"),
      uni(11, 1500, id).as("o_custkey"),
      pick(12, Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(13, 1000.0, 49900000, id).as("o_totalprice"),
      day(14, "1995-01-01", 2400, id).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")))
    val qty = (uni(17, 50, id) + 1).cast("double")
    save("lineitem", spark.range(60000).select(
      uni(16, 15000, id).as("l_orderkey"),
      uni(18, 2000, id).as("l_partkey"),
      uni(19, 100, id).as("l_suppkey"),
      (uni(20, 7, id) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + uni(21, 110000, id) / 100.0), 2).as("l_extendedprice"),
      (uni(22, 11, id) / 100.0).as("l_discount"),
      (uni(23, 9, id) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(25, Seq("F", "O"), id).as("l_linestatus"),
      day(26, "1995-01-02", 2500, id).as("l_shipdate")))
    save("events", spark.range(10000).select(id.as("event_id"),
      ts(27, "2024-01-01 00:00:00", 30L * 86400, id).as("ts"),
      uni(28, 150, id).as("user_id"),
      pick(29, Seq("signup", "click", "error", "view", "purchase"), id).as("event_type"),
      round(-log(lit(1.0) - (uni(30, 1000000, id) + 0.5) / 1000000.0) * 60.0, 2).as("value"),
      format_string("{\"k\": %d}", uni(31, 100, id)).as("props"))
      .orderBy("ts", "event_id"))
    // documents: 10-99 words each; one in twenty is a near duplicate of
    // an earlier document (its text plus the token "dup"), so the dedup
    // queries have clusters to find
    val words = array(Words.map(lit): _*)
    val n = (uni(32, 90, id) + 10).cast("int")
    val base = spark.range(500).select(id,
      array_join(transform(sequence(lit(1), n), i =>
        element_at(words, (pmod(xxhash64(lit(seed), lit(33), id, i), lit(30L)) + 1).cast("int"))),
        " ").as("text0"))
    val docs = base.as("d").join(base.as("s"),
        col("s.id") === pmod(h(34, col("d.id")), greatest(col("d.id"), lit(1L))), "left")
      .select(col("d.id").as("doc_id"),
        when(uni(35, 20, col("d.id")) === 0 && col("d.id") > 0,
          concat_ws(" ", col("s.text0"), lit("dup"))).otherwise(col("d.text0")).as("text"),
        pick(36, Seq("en", "zh", "de", "fr", "es"), col("d.id")).as("lang"),
        concat(lit("src"), uni(37, 20, col("d.id"))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
    save("documents", docs)
    val label = uni(38, 10, id).cast("int")
    save("embeddings", spark.range(500).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(lit(seed), lit(39), label, j), lit(1000L)) / 1000.0 - 0.5) * 0.4 +
          (pmod(xxhash64(lit(seed), lit(40), id, j), lit(1000L)) / 1000.0 - 0.5) * 0.3)
          .cast("float")).as("embedding"),
      label.as("label")))
    // the ten writes are independent jobs: run them Main.Cpus at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cpus)
    try writes.result().map { case (name, df) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}

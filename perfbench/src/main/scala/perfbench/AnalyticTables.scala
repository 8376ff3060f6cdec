package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the analytic tables the query ids read: a TPC-H-like
  * star schema, an `events` table, a `documents` corpus and unit-norm
  * `embeddings`, with the column names, types and value domains the
  * engine's fixtures use (FIXTURES.md, part B). Each value is a hash of
  * (seed, row, column), so the tables do not depend on partitioning.
  */
object AnalyticTables {

  private val Vocab = Seq("a", "the", "row", "line", "key", "value", "data", "table", "column", "part",
    "order", "customer", "query", "scan", "filter", "join", "agg", "group", "sort", "merge", "hash",
    "window", "stream", "batch", "spark", "vector", "big", "small", "fast", "slow")

  def write(spark: SparkSession, dir: Path, seed: Long, sf: Double): Unit = {
    def n(x: Double) = math.max(1L, math.round(x * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    val nEvents = n(1000000); val nUsers = n(15000)
    val nDocs = math.max(500L, n(50000)); val nVecs = math.max(500L, n(20000))

    // uniform [0, 1) and integer [lo, hi] draws keyed on (seed, id, salt)
    def u(salt: Int, id: Column = col("id")): Column =
      pmod(xxhash64(lit(seed), id, lit(salt)), lit(1000000007L)).cast(DoubleType) / 1000000007.0
    def int(salt: Int, lo: Long, hi: Long, id: Column = col("id")): Column =
      (floor(u(salt, id) * (hi - lo + 1)) + lo).cast(LongType)
    def pick(salt: Int, xs: Seq[String], id: Column = col("id")): Column =
      element_at(array(xs.map(lit): _*), int(salt, 1, xs.size, id).cast(IntegerType))
    def day(base: String, salt: Int, days: Int): Column =
      date_add(lit(base).cast(DateType), int(salt, 0, days).cast(IntegerType)).cast(TimestampNTZType)
    val tables = Seq.newBuilder[(String, DataFrame)]
    def save(name: String, df: DataFrame): Unit = tables += name -> df
    def range(k: Long) = spark.range(0, k, 1, 4)

    save("region", range(5).select(col("id").cast(IntegerType).as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast(IntegerType)).as("r_name")))
    save("nation", range(25).select(col("id").cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5)).cast(IntegerType).as("n_regionkey")))
    save("customer", range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(1, 0, 24).cast(IntegerType).as("c_nationkey"),
      round(u(2) * 10999.65 - 999.85, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      int(4, 0, 24).cast(IntegerType).as("s_nationkey"),
      round(u(5) * 10999.65 - 999.85, 2).as("s_acctbal")))
    save("part", range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("red", "blue", "small", "large", "hot", "cold", "new", "old")),
        pick(7, Seq("ring", "gear", "rod", "bolt", "plate", "anvil", "widget", "nut"))).as("p_name"),
      concat(lit("Brand#"), int(8, 1, 25)).as("p_brand"),
      pick(9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      int(10, 1, 50).cast(IntegerType).as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice")))
    val orders = range(nOrd).select(col("id").as("o_orderkey"),
      int(11, 0, nCust - 1).as("o_custkey"),
      pick(12, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(13) * 498991.27 + 1001.91, 2).as("o_totalprice"),
      day("1995-01-01", 14, 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save("orders", orders)
    // lineitem: 1 to 7 lines per order, about 4 on average
    val lines = orders.select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), int(16, 1, 7, col("o_orderkey")).cast(IntegerType))).as("l_linenumber"))
      .withColumn("id", col("o_orderkey") * 8 + col("l_linenumber"))
    save("lineitem", lines.select(col("o_orderkey").as("l_orderkey"),
      int(17, 0, nPart - 1).as("l_partkey"),
      int(18, 0, nSupp - 1).as("l_suppkey"),
      col("l_linenumber").cast(IntegerType).as("l_linenumber"),
      int(19, 1, 50).cast(DoubleType).as("l_quantity"),
      round(u(20) * 104099.23 + 900.68, 2).as("l_extendedprice"),
      (int(21, 0, 10) / 100.0).as("l_discount"),
      (int(22, 0, 8) / 100.0).as("l_tax"),
      pick(23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(24, Seq("O", "F")).as("l_linestatus"),
      (col("o_orderdate") + make_dt_interval(int(25, 1, 121).cast(IntegerType))).as("l_shipdate")))
    // events: ascending ts over 30 days, ids as the stand-in scn
    val stepUs = 30L * 86400L * 1000000L / nEvents
    save("events", range(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + int(26, 0, stepUs - 1))
        .cast(TimestampNTZType).as("ts"),
      int(27, 0, nUsers - 1).as("user_id"),
      pick(28, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      round(-log(lit(1.0) - u(29)) * 40.0, 2).as("value"),
      format_string("{\"k\": %d}", int(30, 0, 99)).as("props")))
    // documents: random word strings; every 20th document repeats an
    // earlier one with a marker word, so near-duplicate detection has work
    val words = transform(sequence(lit(1), int(31, 10, 100).cast(IntegerType)),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), col("id"), i), lit(Vocab.size.toLong)) + 1).cast(IntegerType)))
    val base = range(nDocs).select(col("id"), array_join(words, " ").as("text"))
    val dupOf = base.select((col("id") + 7).as("id"), concat(col("text"), lit(" dup")).as("dup_text"))
    save("documents", base.join(dupOf, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(20)) === 19 && col("dup_text").isNotNull, col("dup_text"))
          .otherwise(col("text")).as("text"),
        pick(32, Seq("en", "en", "en", "zh", "de", "es", "fr")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
      .orderBy("doc_id"))
    // embeddings: 10 labelled clusters in 64 dimensions, unit norm
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (pmod(xxhash64(lit(seed), col("label"), j), lit(1000L)) / 1000.0 - 0.5) +
        (pmod(xxhash64(lit(seed), col("id"), j, lit(1)), lit(1000L)) / 1000.0 +
          pmod(xxhash64(lit(seed), col("id"), j, lit(2)), lit(1000L)) / 1000.0 - 1.0) * 0.3)
    save("embeddings", range(nVecs)
      .withColumn("label", int(33, 0, 9).cast(IntegerType))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast(FloatType)).as("embedding"),
        col("label")))

    // each table is written by a single task (one file), so the tables are
    // written side by side to keep every core busy
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try tables.result().map { case (name, df) =>
      pool.submit(new Runnable {
        def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}

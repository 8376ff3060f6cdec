package graft.plans

import graft.{SparkSpec, Tables}
import graft.tools.QTime
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** A final `orderBy` over an input AQE would read as one partition sorts
  * in one task: no range exchange, one `CoalesceExec`, and exactly the
  * rows, in the same order, of the same query run without the rule. The
  * reference runs with AQE off, where no query-stage rule runs; every
  * sort key below is unique, so the order is total.
  */
class SmallGlobalSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def orders: DataFrame = Tables(spark, sf("sf0.001")).orders

  private def filtered: DataFrame =
    orders.filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  private def aggregated: DataFrame =
    orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
      .orderBy("o_custkey")

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rows of `build()` with AQE off. */
  private def reference(build: () => DataFrame): Seq[Row] =
    withConf("spark.sql.adaptive.enabled" -> "false")(build().collect().toSeq)

  /** Runs a fresh `build()`: its rows, its final plan and its job count. */
  private def run(build: () => DataFrame): (Seq[Row], SparkPlan, Int) = {
    val rec = new QTime.Recorder(spark)
    try {
      val df = build()
      rec.reset()
      val rows = df.collect().toSeq
      (rows, df.queryExecution.executedPlan, rec.jobs().size)
    } finally rec.close()
  }

  private def rangeExchanges(p: SparkPlan) =
    collect(p) { case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e }

  private def coalesces(p: SparkPlan) = collect(p) { case c: CoalesceExec => c }

  private def assertSortsInOneTask(build: () => DataFrame, jobs: Int): Unit = {
    val (rows, plan, n) = run(build)
    assert(rangeExchanges(plan).isEmpty, plan)
    assert(coalesces(plan).size == 1, plan)
    assert(n == jobs, plan)
    assert(rows.nonEmpty)
    assert(rows == reference(build))
  }

  private def assertKeepsRangeExchange(build: () => DataFrame): Unit = {
    val (rows, plan, _) = run(build)
    assert(rangeExchanges(plan).nonEmpty, plan)
    assert(coalesces(plan).isEmpty, plan)
    assert(rows == reference(build))
  }

  test("a filter over a small parquet file sorts in one task and runs one job") {
    assertSortsInOneTask(() => filtered, jobs = 1)
  }

  test("an aggregate over a small parquet file sorts in one task and runs two jobs") {
    assertSortsInOneTask(() => aggregated, jobs = 2)
  }

  test("the threshold is minPartitionSize: at the input's size it fires, one byte below it does not") {
    val size = filtered.queryExecution.optimizedPlan.stats.sizeInBytes
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    withConf(key -> size.toString)(assertSortsInOneTask(() => filtered, jobs = 1))
    withConf(key -> (size - 1).toString)(assertKeepsRangeExchange(() => filtered))
  }

  test("an explode under the sort keeps the range exchange") {
    assertKeepsRangeExchange(() =>
      orders.select(col("o_orderkey"), explode(array(lit(1), lit(2))).as("k")).orderBy("o_orderkey", "k"))
  }

  test("with partition coalescing off the range exchange stays") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(assertKeepsRangeExchange(() => filtered))
  }

  test("a user's repartitionByRange is kept, under a local or a global sort") {
    val ranged = () => orders.select("o_orderkey", "o_totalprice").repartitionByRange(4, col("o_orderkey"))
    assertKeepsRangeExchange(() => ranged().sortWithinPartitions("o_orderkey"))
    assertKeepsRangeExchange(() => ranged().orderBy("o_orderkey"))
  }

  test("orderBy.limit stays a TakeOrderedAndProject") {
    val build = () => orders.select("o_orderkey", "o_totalprice").orderBy("o_orderkey").limit(10)
    val (rows, plan, _) = run(build)
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1, plan)
    assert(coalesces(plan).isEmpty, plan)
    assert(rows == reference(build))
  }
}

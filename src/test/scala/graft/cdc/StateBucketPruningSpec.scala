package graft.cdc

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** A key lookup through `readCurrentState` scans one bucket: every
  * lookup returns exactly the rows of the same filter over an unpruned
  * read of the root, the pruned scan lists one bucket's files, and the
  * cases the rule must not touch keep the plan they had without it.
  */
class StateBucketPruningSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Buckets = 8
  private val Ids = 0L until 24L

  /** A committed state of `df` keyed by `keys`. */
  private def stateOf(df: DataFrame, keys: Seq[String]): String = {
    val path = Files.createTempDirectory("pruning").resolve("t").toString
    Stream.writeState(df, path, keys, stateBuckets = Buckets)
    path
  }

  /** Rows (id, name, price, op, scn); every fifth id is a tombstone. */
  private def rows: DataFrame = {
    val s = spark
    import s.implicits._
    Ids.map(i => (i, s"n$i", i * 1.5, if (i % 5 == 0) "d" else "u", 100 + i))
      .toDF("id", "name", "price", "op", "scn")
  }

  private lazy val longState = stateOf(rows, Seq("id"))
  private lazy val stringState = stateOf(rows, Seq("name"))
  private lazy val compositeState = stateOf(rows, Seq("id", "name"))

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The same filter over a plain parquet read of the root: no reader
    * options, so no pruning.
    */
  private def unpruned(root: String, cond: Column): Seq[Row] =
    sorted(spark.read.parquet(root).filter(col("op") =!= "d").filter(cond))

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    scans.head
  }

  private def filesIn(root: String, bucket: Int): Long =
    new java.io.File(root, s"${Stream.BucketCol}=$bucket").listFiles()
      .count(_.getName.endsWith(".parquet")).toLong

  /** The bucket the row matching `cond` was written to. */
  private def bucketOfRow(root: String, cond: Column): Int = {
    val bs = spark.read.parquet(root).filter(cond).select(Stream.BucketCol).distinct().collect()
    assert(bs.length == 1, s"$cond matches ${bs.length} buckets")
    bs.head.getInt(0)
  }

  /** True iff the rule changes `df`'s optimized plan: the plan is
    * optimized once as the session does and once with the rule left out.
    */
  private def ruleChanges(df: DataFrame): Boolean = {
    def optimized(): LogicalPlan =
      spark.sessionState.optimizer.execute(df.queryExecution.analyzed).canonicalized
    val withRule = optimized()
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, StateBucketPruning.ruleName)
    try withRule != optimized()
    finally spark.conf.unset(key)
  }

  /** Looks `cond` up through `readCurrentState`: the rows match the
    * unpruned read, and the scan lists exactly the files of the matching
    * row's bucket.
    */
  private def assertPruned(root: String, cond: Column): Unit = {
    val df = Stream.readCurrentState(spark, root).filter(cond)
    assert(sorted(df) == unpruned(root, cond), cond)
    val scan = scanOf(df)
    assert(scan.partitionFilters.exists(_.references.exists(_.name == Stream.BucketCol)),
      scan.partitionFilters)
    assert(scan.selectedPartitions.partitionCount == 1, cond)
    assert(scan.selectedPartitions.totalNumberOfFiles == filesIn(root, bucketOfRow(root, cond)), cond)
    assert(ruleChanges(df), cond)
  }

  /** Looks `cond` up through `readCurrentState`: the rows match the
    * unpruned read and the rule leaves the plan as it was.
    */
  private def assertUnpruned(root: String, cond: Column): Seq[Row] = {
    val df = Stream.readCurrentState(spark, root).filter(cond)
    val got = sorted(df)
    assert(got == unpruned(root, cond), cond)
    assert(!ruleChanges(df), cond)
    got
  }

  test("a Long-key lookup returns the unpruned rows and scans one bucket") {
    Ids.foreach(k => assertPruned(longState, col("id") === k))
    // the equality may be written either way round
    assertPruned(longState, lit(7L) === col("id"))
  }

  test("a String-key lookup returns the unpruned rows and scans one bucket") {
    Ids.foreach(k => assertPruned(stringState, col("name") === s"n$k"))
  }

  test("a composite-key lookup returns the unpruned rows and scans one bucket") {
    Ids.foreach(k => assertPruned(compositeState, col("id") === k && col("name") === s"n$k"))
  }

  test("an equality on only one of the composite keys is not pruned") {
    assert(assertUnpruned(compositeState, col("id") === 3L).size == 1)
  }

  test("a DOUBLE key is not pruned") {
    val root = stateOf(rows, Seq("price"))
    assert(assertUnpruned(root, col("price") === 4.5).size == 1)
    assertUnpruned(root, col("price") === 0.0) // id 0 is a tombstone: no row
  }

  test("a UTF8_LCASE key looked up with other case is not pruned") {
    val root = stateOf(rows.withColumn("name", collate(col("name"), "UTF8_LCASE")), Seq("name"))
    assert(assertUnpruned(root, col("name") === "N7").size == 1)
  }

  test("a marker holding only the count reads correctly, unpruned") {
    val root = stateOf(rows, Seq("id"))
    // the marker as earlier code wrote it: the count alone
    val marker = new org.apache.hadoop.fs.Path(root, "_state_buckets")
    val out = marker.getFileSystem(spark.sparkContext.hadoopConfiguration).create(marker, true)
    try out.write(s"$Buckets\n".getBytes("UTF-8")) finally out.close()
    assert(assertUnpruned(root, col("id") === 7L).size == 1)
    // a fold checks the count alone and leaves the commit marker as it is
    val s = spark
    import s.implicits._
    Stream.foldBatch(Seq((7L, "n7", 2.0, "u", 500L)).toDF("id", "name", "price", "op", "scn"),
      Seq("id"), Seq("scn"), root, Buckets)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(root, "_state_buckets")), "UTF-8") == s"$Buckets\n")
    assert(assertUnpruned(root, col("id") === 7L).map(_.getAs[Double]("price")) == Seq(2.0))
  }

  test("a caller's own state_bucket filter is left as written") {
    val b = bucketOfRow(longState, col("id") === 7L)
    assert(assertUnpruned(longState, col("id") === 7L && col(Stream.BucketCol) === b).size == 1)
    assert(assertUnpruned(longState, col("id") === 7L && col(Stream.BucketCol) === (b + 1) % Buckets).isEmpty)
  }

  test("a fold with other keys than the layout's fails before any write") {
    val s = spark
    import s.implicits._
    val root = stateOf(rows, Seq("id"))
    val before = sorted(spark.read.parquet(root))
    val delta = Seq((3L, "n3", 9.0, "u", 500L)).toDF("id", "name", "price", "op", "scn")
    val e = intercept[IllegalArgumentException](
      Stream.foldBatch(delta, Seq("id", "name"), Seq("scn"), root, Buckets))
    assert(e.getMessage.contains("matching keys are required"), e.getMessage)
    assert(sorted(spark.read.parquet(root)) == before)
  }
}

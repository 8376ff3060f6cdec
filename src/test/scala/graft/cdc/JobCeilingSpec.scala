package graft.cdc

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}
import graft.tools.QTime
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Job ceilings of the read paths. A job count is deterministic, so a
  * hidden job that returns (a schema-inference job, an eager probe)
  * fails here without any timing noise.
  */
class JobCeilingSpec extends SparkSpec {

  /** The Spark jobs `body` starts, counted by a listener. */
  private def jobsOf(body: => Unit): Seq[QTime.Job] = {
    val rec = new QTime.Recorder(spark)
    try { rec.reset(); body; rec.jobs() }
    finally rec.close()
  }

  test("a second build of a mix id starts no Spark job before the DataFrame returns") {
    val dir = sf("sf0.001")
    for (id <- Seq("filter_eq", "apply_changes", "agg_percentile", "q2_mincost")) {
      val build = SparkEntry.queries(id)
      build(spark, dir)
      val jobs = jobsOf(build(spark, dir))
      assert(jobs.isEmpty, s"$id: ${jobs.mkString("; ")}")
    }
  }

  private def committedState(): String = {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ceiling").resolve("t").toString
    Stream.writeState((0 until 40).map(i => Ev(i.toLong, i.toLong, "c", i.toDouble)).toDF(),
      path, Seq("id"), stateBuckets = 8)
    path
  }

  test("readCurrentState on a committed state starts no Spark job") {
    val path = committedState()
    val jobs = jobsOf(Stream.readCurrentState(spark, path))
    assert(jobs.isEmpty, jobs.mkString("; "))
  }

  test("a key lookup on a committed state runs one job over one bucket's files") {
    val path = committedState()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      var got: Array[Row] = null
      val jobs = jobsOf { got = Stream.readCurrentState(spark, path).filter(col("id") === 7L).collect() }
      assert(got.map(_.getAs[Long]("id")).toSeq == Seq(7L))
      assert(jobs.size == 1, jobs.mkString("; "))
      val bucket = got.head.getAs[Int](Stream.BucketCol)
      val files = new java.io.File(path, s"${Stream.BucketCol}=$bucket").listFiles().count(_.getName.endsWith(".parquet"))
      assert(tasks.get >= 1 && tasks.get <= files, s"${tasks.get} tasks over $files files")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a steady-state foldBatch starts no more jobs than its probe and its rewrite need") {
    val s = spark
    import s.implicits._
    val path = committedState()
    val delta = Seq(Ev(100L, 3L, "u", 9.0), Ev(101L, 50L, "c", 5.0)).toDF()
    val jobs = jobsOf(Stream.foldBatch(delta, Seq("id"), Seq("scn"), path, stateBuckets = 8))
    assert(jobs.size <= MaxFoldJobs, jobs.mkString("; "))
  }

  /** Measured on a steady-state batch: one job for the affected-bucket
    * probe (an exchange-free bitset pass over the persisted delta, where a
    * `distinct` under AQE ran three) and two for the bucket rewrite. The
    * previous state's read starts none: it passes the recorded schema,
    * where `mergeSchema` inference was one more job.
    */
  private val MaxFoldJobs = 3
}

package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.DecimalType

import scala.jdk.CollectionConverters._

/** Building blocks of the `cdc` workload: the correctness digest, the
  * snapshot input, progress-record times and the per-batch layer split of
  * the traced run.
  */
object Cdc {

  /** Row count and an order-independent hash of a state's rows. */
  final case class Digest(rows: Long, hash: BigDecimal)

  def digest(df: DataFrame): Digest = {
    val cols = ProductFeed.feedSchema.fieldNames.toSeq.map(col)
    val r = df.select(cols: _*)
      .agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))))
      .head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The current state as the batch fold `Ops.applyChanges` computes it
    * over the snapshot and every change event under `changes`.
    */
  def expected(spark: SparkSession, base: DataFrame, snapshotScn: Long, changes: Seq[Path]): DataFrame = {
    val events = spark.read.schema(ProductFeed.feedSchema).json(changes.map(_.toString): _*)
    graft.cdc.Ops.applyChanges(
      graft.cdc.Ops.snapshot(base, snapshotScn).unionByName(events), Seq("id"), Seq("scn"))
  }

  /** Writes the snapshot as JSON lines and returns its path. */
  def writeSnapshot(feed: ProductFeed, dir: Path): Path = {
    val p = dir.resolve("snapshot.json")
    val w = Files.newBufferedWriter(p)
    try feed.snapshotLines().foreach { l => w.write(l); w.write('\n') } finally w.close()
    p
  }

  def readBase(spark: SparkSession, snapshot: Path): DataFrame =
    spark.read.schema(ProductFeed.baseSchema).json(snapshot.toString)

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def endMs(p: StreamingQueryProgress): Long = startMs(p) + durMs(p, "triggerExecution").toLong

  private val ProbeDesc = "foldBatch: affected buckets"
  private val RewriteDesc = "foldBatch: rewrite buckets"

  /** Splits each micro-batch's time into the layers the progress record
    * and the job descriptions that `foldBatch` sets make visible.
    */
  def batchLayers(t: Trace, batches: Seq[StreamingQueryProgress], bytesPerEvent: Double): Map[String, Double] = {
    if (batches.isEmpty) return Map.empty
    val per = batches.map { p =>
      val (s, e) = (startMs(p), endMs(p))
      val jobs = t.jobsIn(s, e)
      val probe = jobs.filter(_.desc == ProbeDesc).map(_.ms).sum
      val rewrite = jobs.filter(_.desc == RewriteDesc).map(_.ms).sum
      val written = t.tasksIn(s, e).filter(_.desc == RewriteDesc).map(_.outBytes).sum
      Map(
        "list" -> (durMs(p, "latestOffset") + durMs(p, "getBatch")),
        "fixed" -> (durMs(p, "queryPlanning") + durMs(p, "walCommit") + durMs(p, "commitOffsets") + probe),
        "probe" -> probe,
        "rewrite" -> rewrite,
        // jobs of one batch can overlap, so the time some job ran is
        // taken from their union, not from the sum of their durations
        "commit" -> (durMs(p, "addBatch") - ((e - s) - t.idleMsIn(s, e))),
        "batch" -> durMs(p, "triggerExecution"),
        "written" -> written.toDouble,
        "rows" -> p.numInputRows.toDouble,
        "jobs" -> jobs.size.toDouble,
        "stages" -> t.stagesIn(s, e).toDouble,
        "tasks" -> t.tasksIn(s, e).size.toDouble)
    }
    def med(k: String) = Stats.median(per.map(_(k)))
    Map(
      "sources.list_ms_p50" -> med("list"),
      "stream.fixed_ms_p50" -> med("fixed"),
      "stream.probe_ms_p50" -> med("probe"),
      "stream.rewrite_ms_p50" -> med("rewrite"),
      "stream.commit_ms_p50" -> med("commit"),
      "stream.batch_ms_p50" -> med("batch"),
      "stream.batch_ms_max" -> per.map(_("batch")).max,
      "stream.batches" -> per.size.toDouble,
      "stream.state_write_mb_per_batch" -> med("written") / Trace.MB,
      "stream.write_amp" -> per.map(_("written")).sum / (per.map(_("rows")).sum * bytesPerEvent),
      "spark.jobs" -> med("jobs"),
      "spark.stages" -> med("stages"),
      "spark.tasks" -> med("tasks"))
  }

  /** Total bytes and number of data files under a directory. */
  def dirSize(root: Path): (Long, Int) = {
    val st = Files.walk(root)
    try {
      val files = st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        .filterNot(_.getFileName.toString.startsWith("."))
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")))
    } finally st.close()
  }
}

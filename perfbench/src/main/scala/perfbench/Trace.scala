package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Per-layer recorder of the traced run. It only registers Spark's public
  * listeners and keeps their events in memory; workloads ask it for the
  * jobs, tasks and planning time inside a wall-clock window. Events arrive
  * asynchronously on Spark's listener bus, so call [[settle]] before
  * reading a window that has just closed.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val stages = ArrayBuffer.empty[Long]
  private val planning = ArrayBuffer.empty[(Long, Double)]
  private val stageDesc = collection.mutable.Map.empty[Int, String]
  private val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      Trace.this.synchronized {
        jobs += Job(e.jobId, desc, e.time, -1L)
        e.stageIds.foreach(stageDesc(_) = desc)
      }
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Trace.this.synchronized {
        jobs.indexWhere(_.id == e.jobId) match {
          case -1 => ()
          case i => jobs(i) = jobs(i).copy(end = e.time)
        }
      }
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      Trace.this.synchronized { stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        tasks += Task(
          desc = stageDesc.getOrElse(e.stageId, ""),
          endMs = e.taskInfo.finishTime,
          runMs = m.executorRunTime,
          cpuNs = m.executorCpuTime,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          gcMs = m.jvmGCTime,
          outBytes = m.outputMetrics.bytesWritten)
      }
      touch()
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Trace.this.synchronized {
        planning += ((ph.values.map(_.endTimeMs).max, ph.values.map(_.durationMs.toDouble).sum))
      }
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      Trace.this.synchronized { progress += e.progress }
      touch()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Wait until every started job has ended and no event arrived for a
    * short while, so a window read now sees all of its events.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def quiet = System.currentTimeMillis() - lastEventMs > 200 && synchronized(jobs.forall(_.end >= 0))
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Progress records of the micro-batches that read data. */
  def batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(progress.filter(_.numInputRows > 0).toSeq)

  /** Jobs that started inside [t0, t1]. */
  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized(jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq)

  /** Tasks that ended inside [t0, t1]. */
  def tasksIn(t0: Long, t1: Long): Seq[Task] = synchronized(tasks.filter(t => t.endMs >= t0 && t.endMs <= t1).toSeq)

  def stagesIn(t0: Long, t1: Long): Int = synchronized(stages.count(s => s >= t0 && s <= t1))

  /** Catalyst analysis + optimization + planning ms of the query
    * executions that finished inside [t0, t1].
    */
  def planningMsIn(t0: Long, t1: Long): Double =
    synchronized(planning.filter(p => p._1 >= t0 && p._1 <= t1).map(_._2).sum)

  /** Wall ms inside [t0, t1] during which no job was running. */
  def idleMsIn(t0: Long, t1: Long): Double = {
    val spans = synchronized(jobs.toSeq)
      .map(j => (j.start max t0, (if (j.end < 0) t1 else j.end) min t1))
      .filter(s => s._2 > s._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    covered += curE - curS
    (t1 - t0 - covered).toDouble
  }

  /** Executor-side totals over the tasks that ended inside the windows. */
  def taskTotals(windows: Seq[(Long, Long)], cores: Int): Map[String, Double] = {
    val ts = windows.flatMap { case (t0, t1) => tasksIn(t0, t1) }
    val wallS = windows.map { case (t0, t1) => t1 - t0 }.sum / 1000.0
    val runS = ts.map(_.runMs).sum / 1000.0
    Map(
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.core_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> ts.map(_.spill).sum / MB,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.idle_s" -> windows.map { case (t0, t1) => idleMsIn(t0, t1) }.sum / 1000.0)
  }
}

object Trace {
  val MB: Double = 1024.0 * 1024.0

  final case class Job(id: Int, desc: String, start: Long, end: Long) {
    def ms: Double = (end - start).toDouble
  }

  final case class Task(desc: String, endMs: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long, outBytes: Long)

  /** Every per-layer metric name with its unit, in report order. A
    * workload reports 0 for a layer it does not exercise.
    */
  val Layers: Seq[(String, String)] = Seq(
    "sources.list_ms_p50" -> "ms",
    "stream.fixed_ms_p50" -> "ms",
    "stream.probe_ms_p50" -> "ms",
    "stream.rewrite_ms_p50" -> "ms",
    "stream.commit_ms_p50" -> "ms",
    "stream.batch_ms_p50" -> "ms",
    "stream.batch_ms_max" -> "ms",
    "stream.batches" -> "count",
    "stream.state_write_mb_per_batch" -> "MB",
    "stream.write_amp" -> "ratio",
    "backfill.fixed_ms_p50" -> "ms",
    "backfill.probe_ms_p50" -> "ms",
    "backfill.rewrite_ms_p50" -> "ms",
    "backfill.commit_ms_p50" -> "ms",
    "backfill.batch_ms_p50" -> "ms",
    "backfill.batch_ms_max" -> "ms",
    "backfill.batches" -> "count",
    "backfill.state_write_mb_per_batch" -> "MB",
    "backfill.write_amp" -> "ratio",
    "stream.state_mb" -> "MB",
    "stream.state_files" -> "count",
    "state_read.build_ms" -> "ms",
    "state_read.exec_ms" -> "ms",
    "pipeline.bootstrap_s" -> "s",
    "query.build_ms" -> "ms",
    "query.build_jobs" -> "count",
    "query.exec_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.idle_s" -> "s",
    "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.core_util" -> "ratio",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s",
    "memo.resident_mb" -> "MB",
    "memo.blocks" -> "count",
    "family.cdc_s" -> "s",
    "family.rel_s" -> "s",
    "family.llm_s" -> "s",
    "family.sources_s" -> "s")
}

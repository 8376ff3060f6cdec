package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev harness: time individual query ids outside the full bench, and
  * show what their runs did.
  *
  * Usage: sbt "runMain graft.tools.QTime <sfDir> <id1,id2,...> [runs] [modes] [out]"
  *
  * Same measurement hygiene as [[graft.Bench]] (noop sink, System.gc()
  * outside the timer, median-of-N) but scoped to the named ids so a
  * single-query iteration loop doesn't pay the whole suite. `modes` is a
  * comma list of:
  *   - `prepare` — run the build-once artifact step Bench runs
  *     ([[graft.llm.Curation.prepareDecontamination]]) UNTIMED first, so
  *     probes of the decontamination family measure the query like the
  *     suite does, not the index build;
  *   - `jobs` — print each timed run's Spark jobs (job id, ms,
  *     `spark.job.description`) under that run, to attribute multi-job
  *     query cost, and how many of them started before the DataFrame
  *     returned (the driver floor: eager probes, schema inference);
  *   - `plan` — the FormattedMode plan (numbered operators,
  *     PushedFilters/ReadSchema, exchange and join details) of a fresh,
  *     unexecuted build: the cold plan as Bench's first run builds it;
  *   - `exec` — the FINAL adaptive plan of the last timed run, with AQE's
  *     runtime decisions (ReusedExchange, AQEShuffleRead, join rewrites)
  *     that `plan` cannot show. It is taken from a QueryExecutionListener,
  *     so it is the write command's own execution: `df.queryExecution`
  *     after a write is a separate, never-executed plan.
  * `out` = `<outDir>/<tag>` writes the one plan mode's text to
  * `<outDir>/<id>_<tag>.txt` (the `plans/rNN/` layout) instead of
  * printing it. `runs` = 0 with `plan` only builds the plans.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("graft-qtime")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val ids = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 3
    val modes = if (args.length > 3) args(3).split(",").toSet else Set.empty[String]
    val out = args.lift(4)
    val unknown = modes -- Set("prepare", "jobs", "plan", "exec")
    require(unknown.isEmpty, s"unknown mode(s) ${unknown.mkString(",")}: modes are prepare,jobs,plan,exec")
    require(out.isEmpty || modes.count(Set("plan", "exec")) == 1, "out takes exactly one of the plan, exec modes")
    require(!modes("exec") || runs > 0, "exec reads the last timed run's plan: runs must be > 0")

    def emit(id: String, kind: String, text: String): Unit = out match {
      case Some(prefix) =>
        val p = Paths.get(prefix)
        val f = p.resolveSibling(s"${id}_${p.getFileName}.txt")
        Option(f.getParent).foreach(Files.createDirectories(_))
        Files.write(f, text.getBytes("UTF-8"))
        println(s"[qtime] $id $kind plan -> $f (${text.length} chars)")
      case None =>
        println(s"[qtime] ===== $id $kind plan =====")
        println(text)
    }

    val rec = if (modes("jobs") || modes("exec")) Some(new Recorder(spark)) else None
    try {
      if (modes("prepare")) {
        val t0 = System.nanoTime()
        graft.llm.Curation.prepareDecontamination(spark, sfDir)
        println(f"[qtime] (prepare: decon memo build ${(System.nanoTime() - t0) / 1e9}%.3f s, untimed)")
      }
      val qs = graft.SparkEntry.queries
      ids.foreach { id =>
        val fn = qs.getOrElse(id, sys.error(s"unknown query id: $id"))
        if (modes("plan"))
          try emit(id, "formatted", fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          catch { case e: Throwable => System.err.println(s"[qtime] $id: $e") }
        val times = (1 to runs).map { r =>
          rec.foreach(_.reset())
          System.gc()
          val t0 = System.nanoTime()
          var built = Long.MaxValue // epoch ms at which the DataFrame returned
          // one failing id must not abort the rest of the list
          val ok =
            try {
              val df = fn(spark, sfDir)
              built = System.currentTimeMillis()
              df.write.format("noop").mode("overwrite").save()
              true
            } catch { case e: Throwable => System.err.println(s"[qtime] $id: $e"); false }
          val t = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
          if (modes("jobs")) {
            val jobs = rec.get.jobs()
            // a build job ends before the DataFrame returns, and no job
            // runs in under 1 ms, so its start is strictly earlier
            val early = jobs.count(_.startMs < built)
            println(f"[qtime] $id run $r: $t%.3f s, ${jobs.size} jobs ($early before the DataFrame returned)")
            jobs.foreach(j => println(f"[qtime]   job ${j.id}%4d ${j.ms}%7d ms  ${j.desc}"))
          }
          t
        }
        if (runs > 0) {
          val good = times.filterNot(_.isNaN).sorted
          // true median (even-size average, as in Bench) — an upper-middle
          // pick would let a steal outlier into the reported number
          val median =
            if (good.isEmpty) Double.NaN
            else if (good.size % 2 == 1) good(good.size / 2)
            else (good(good.size / 2 - 1) + good(good.size / 2)) / 2.0
          println(f"[qtime] $id%-20s median=$median%.3f s  runs=${times.map(t => f"$t%.3f").mkString(",")}")
        }
        if (modes("exec")) {
          rec.get.settle()
          val plan = Option(rec.get.lastExecution).fold("<no successful run>")(_.executedPlan.toString)
          val reused = "Reused(Exchange|QueryStage|Subquery)".r.findAllIn(plan).size
          println(s"[qtime] $id exec: reused=$reused scans=${"Scan parquet".r.findAllIn(plan).size}")
          emit(id, "exec", plan)
        }
      }
    } finally rec.foreach(_.close())
  }

  /** One ended Spark job: its id, start (epoch ms), duration and
    * `spark.job.description`.
    */
  final case class Job(id: Int, startMs: Long, ms: Long, desc: String)

  /** Listens to the session's jobs and query executions. Events arrive
    * asynchronously on Spark's listener bus, so [[settle]] waits for it
    * to go quiet before a reading; it runs outside the timed region.
    */
  private[graft] final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    private val ended = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    @volatile private var lastEventMs = System.currentTimeMillis()
    @volatile var lastExecution: QueryExecution = null

    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      open.put(j.jobId, (j.time, desc.getOrElse("")))
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      Option(open.remove(j.jobId)).foreach { case (t0, desc) => ended.add(Job(j.jobId, t0, j.time - t0, desc)) }
      lastEventMs = System.currentTimeMillis()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastExecution = qe
      lastEventMs = System.currentTimeMillis()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lastEventMs = System.currentTimeMillis()

    /** Waits (up to 5 s) until no event arrived for 200 ms and no job is open. */
    def settle(): Unit = {
      val deadline = System.currentTimeMillis() + 5000
      def quiet = System.currentTimeMillis() - lastEventMs > 200 && open.isEmpty
      while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(20)
    }

    /** Settles and forgets everything seen so far: called before a timed run. */
    def reset(): Unit = {
      settle()
      ended.clear()
      lastExecution = null
    }

    /** Settles, then the jobs ended since [[reset]], by id. */
    def jobs(): Seq[Job] = {
      settle()
      ended.asScala.toSeq.sortBy(_.id)
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }
}

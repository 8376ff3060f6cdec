package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** What one run of a workload measured. `perCpuS`, `typicalMs`, `tailMs`
  * and `readCpuMs` are the workload's end-to-end figures under the
  * generic names every workload reports; `named` repeats them under their
  * own names, next to the wall-clock figures of the same operations.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    perCpuS: Double,
    typicalMs: Double,
    tailMs: Double,
    readCpuMs: Double,
    named: Seq[(String, Double, String)],
    layers: Map[String, Double],
    info: Seq[(String, String)])

/** Shared state of one run: the session, the options and the set-up and
  * timed-phase clocks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Option[Trace], val work: Path, jvmStartMs: Long) {

  val cores: Int = spark.sparkContext.defaultParallelism
  private var timedStartMs = -1L
  private var heapMb = Double.NaN
  private val marks = ArrayBuffer[(String, Long)]("jvm" -> jvmStartMs)

  /** Records when a set-up phase ended, for the run record. */
  def mark(phase: String): Unit = marks += phase -> System.currentTimeMillis()

  /** Seconds each set-up phase took, in order. */
  def phases: String =
    marks.zip(marks.drop(1)).map { case ((_, a), (n, b)) => f"$n=${(b - a) / 1000.0}%.2f" }.mkString(" ")

  /** Marks the start of the timed phase, now or at a given epoch ms. */
  def startTimed(at: Long = System.currentTimeMillis()): Long = { timedStartMs = at; marks += "timed_start" -> at; at }

  /** Marks the end of the timed phase and takes the retained heap. */
  def endTimed(): Long = {
    val t = System.currentTimeMillis()
    mark("timed")
    // Spark drops unreferenced shuffle and broadcast state on its cleaner
    // thread only after a GC found them, so collect a few times and keep
    // the smallest reading
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / Trace.MB
    }.min
    t
  }

  def deadlineMs: Long = timedStartMs + seconds * 1000L

  /** JVM start to the timed phase: session, input generation, bootstrap
    * and warm-up.
    */
  def setupS: Double = {
    require(timedStartMs > 0, "timed phase never started")
    (timedStartMs - jvmStartMs) / 1000.0
  }

  def retainedHeapMb: Double = heapMb
}

/** CPU time of this JVM's Java threads: the driver, Spark's task threads,
  * the stream threads. It leaves out the JIT compiler and the garbage
  * collector, whose background work lands on whichever operation happens
  * to run, and, on a guest with steal-time accounting, the time the host
  * ran other tenants on our cores, which wall time counts. A thread that
  * has ended keeps its last reading, so read often enough that a
  * short-lived thread is seen.
  */
object Cpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  private val seen = collection.mutable.Map.empty[Long, Long]

  /** CPU ms all Java threads seen so far have used. */
  def ms: Double = synchronized {
    mx.getAllThreadIds.foreach { id =>
      val ns = mx.getThreadCpuTime(id)
      if (ns > 0) seen(id) = ns max seen.getOrElse(id, 0L)
    }
    seen.values.sum / 1e6
  }
}

object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc" -> CdcWorkload.run,
    "analytics_mix" -> Mix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.Engine.session("graft-perfbench")
    try {
      val trace = if (traced) Some(new Trace(spark)) else None
      val ctx = new Ctx(spark, seed, seconds, trace, work, jvmStartMs)
      ctx.mark("session")
      val o = run(ctx)
      ctx.mark("checks")
      println("PERFBENCH_RESULT " + record(workload, ctx, traced, o))
    } finally spark.stop()
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite figure $v")
    v.toString
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metric(v: Double, unit: String) = s"""{"value":${num(v)},"unit":${str(unit)}}"""

  /** One JSON object with the run's environment, its end-to-end figures,
    * the same figures under their own names, the per-layer figures (traced runs) and
    * free-form details.
    */
  def record(workload: String, ctx: Ctx, traced: Boolean, o: Outcome): String = {
    val e2e = Seq(
      "work_per_cpu_s" -> (o.perCpuS, "1/s"),
      "typical_ms" -> (o.typicalMs, "ms"),
      "tail_ms" -> (o.tailMs, "ms"),
      "read_cpu_ms" -> (o.readCpuMs, "ms"),
      "setup_s" -> (ctx.setupS, "s"),
      "retained_heap_mb" -> (ctx.retainedHeapMb, "MB"))
    val env = Seq(
      "cores" -> ctx.cores.toString,
      "spark_graft_cpus" -> graft.Engine.cpus,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / Trace.MB).round.toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> ctx.spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    // a traced run also reports its own end-to-end figures, so that the
    // comparison can state what tracing cost
    val layers =
      if (!traced) Nil
      else Trace.Layers.map { case (n, u) => n -> (o.layers.getOrElse(n, 0.0), u) } ++
        e2e.map { case (n, vu) => s"traced.$n" -> vu }
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    obj(Seq(
      "workload" -> str(workload),
      "seed" -> ctx.seed.toString,
      "seconds" -> ctx.seconds.toString,
      "trace" -> (if (traced) "1" else "0"),
      "env" -> obj(env.map { case (k, v) => k -> str(v) }),
      "correct" -> (o.failed == 0 && o.attempted > 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> obj(e2e.map { case (n, (v, u)) => n -> metric(v, u) }),
      "named" -> obj(o.named.map { case (n, v, u) => n -> metric(v, u) }),
      "layers" -> obj(layers.map { case (n, (v, u)) => n -> metric(v, u) }),
      "info" -> obj((o.info :+ ("setup_phases_s" -> ctx.phases)).map { case (k, v) => k -> str(v) })))
  }
}

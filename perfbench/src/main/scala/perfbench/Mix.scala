package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import scala.collection.mutable.ArrayBuffer

/** `analytics_mix`: the query side, as a closed loop with one client. Each
  * round runs every id once (the cheapest read `ReadsPerRound` times)
  * through `SparkEntry.queries(id)` and a `noop` write, in an order
  * shuffled by the seed. The first round is set-up: it
  * builds the memos and records each id's row count and hash, which every
  * timed execution must reproduce.
  */
object Mix {

  /** Ids grouped by what bounds them. */
  val Ids: Seq[String] = Seq(
    // the per-query driver floor
    "filter_eq",
    // the CDC read side
    "apply_changes",
    // executor CPU
    "agg_percentile",
    // many jobs per query
    "q2_mincost",
    // memo-using LLM families
    "dedup_near", "bm25_topk")

  /** The cheapest read, run this many times in every round, so that its
    * median (`read_cpu_ms`) has at least ten samples beyond it.
    */
  val ReadId = "filter_eq"
  val ReadsPerRound = 4

  val Sf = 0.01
  val MinRounds = 5

  /** The engine module an id belongs to. */
  def family(id: String): String =
    if (graft.cdc.CdcQueries.queries.contains(id)) "cdc"
    else if (graft.rel.Queries.queries.contains(id)) "rel"
    else if (Seq(graft.sources.AvroCodec.queries, graft.sources.JdbcSource.queries, graft.sources.CsvSpool.queries,
      graft.sources.JsonSpool.queries, graft.sources.OrcSource.queries, graft.sources.ZOrder.queries)
      .exists(_.contains(id))) "sources"
    else "llm"

  /** One execution: epoch-ms marks for the trace windows, its build and
    * total time from the monotonic clock, and the CPU time the JVM's Java
    * threads spent on it (`Cpu.ms`).
    */
  final case class Exec(id: String, t0: Long, tBuilt: Long, t1: Long, buildMs: Double, ms: Double,
      cpuMs: Double, rows: Long, hash: BigDecimal)

  private def hashCols(df: DataFrame) = df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name.replace("`", "``")}`")
    if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = Files.createDirectories(ctx.work.resolve("tables")).toString
    AnalyticTables.write(spark, Paths.get(data), ctx.seed, Sf)
    ctx.mark("prepare")
    val queries = SparkEntry.queries
    var n = 0

    def exec(id: String): Exec = {
      n += 1
      val obs = Observation(s"perfbench_$n")
      val t0 = System.currentTimeMillis()
      val c0 = Cpu.ms
      val n0 = System.nanoTime()
      val df = queries(id)(spark, data)
      val tBuilt = System.currentTimeMillis()
      val nBuilt = System.nanoTime()
      df.observe(obs, count(lit(1)), sum(xxhash64(hashCols(df): _*).cast(DecimalType(38, 0))))
        .write.format("noop").mode("overwrite").save()
      val n1 = System.nanoTime()
      val c1 = Cpu.ms
      val t1 = System.currentTimeMillis()
      val m = obs.get.values.toSeq
      Exec(id, t0, tBuilt, t1, (nBuilt - n0) / 1e6, (n1 - n0) / 1e6, c1 - c0, m(0).asInstanceOf[Long],
        Option(m(1)).map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0)))
    }

    val reference = Ids.map(id => id -> exec(id)).toMap
    val rnd = new scala.util.Random(ctx.seed)
    val round = Ids ++ Seq.fill(ReadsPerRound - 1)(ReadId)
    val t0 = ctx.startTimed()
    val runs = ArrayBuffer.empty[Exec]
    var attempted = 0L
    var failed = 0L
    var rounds = 0
    while (rounds < MinRounds || System.currentTimeMillis() < ctx.deadlineMs) {
      System.gc() // the previous round's garbage, outside the timer
      rnd.shuffle(round).foreach { id =>
        attempted += 1
        try {
          val e = exec(id)
          runs += e
          val ref = reference(id)
          if (e.rows != ref.rows || e.hash != ref.hash) {
            failed += 1
            System.err.println(s"[perfbench] $id: ${e.rows} rows hash ${e.hash}, first round had ${ref.rows} hash ${ref.hash}")
          }
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $id: $e")
        }
      }
      rounds += 1
    }
    val t1 = ctx.endTimed()

    val byId = runs.groupBy(_.id).map { case (id, es) => id -> es.toSeq }
    // a percentile over executions of different queries mixes their
    // distributions, so every figure starts from each id's own median;
    // the slowest id's median is the tail one client sees
    val medMs = byId.map { case (id, es) => id -> Stats.median(es.map(_.ms)) }
    val qps = medMs.size / (medMs.values.sum / 1000.0)
    val geo = Stats.geomean(medMs.values.toSeq)
    val slowest = medMs.values.max
    val readMs = Stats.percentile(byId(ReadId).map(_.ms), 0.5, ReadId)
    // the same from the CPU time each execution used: the end-to-end figures
    val cpuMs = byId.map { case (id, es) => id -> Stats.median(es.map(_.cpuMs)) }
    val perCpuS = cpuMs.size / (cpuMs.values.sum / 1000.0)
    val geoCpu = Stats.geomean(cpuMs.values.toSeq)
    val slowestCpu = cpuMs.values.max
    val readCpu = Stats.percentile(byId(ReadId).map(_.cpuMs), 0.5, ReadId)
    val layers = ctx.trace.fold(Map.empty[String, Double]) { t =>
      t.settle()
      def perId(f: Exec => Double) = byId.values.map(es => Stats.median(es.map(f))).sum
      val storage = spark.sparkContext.getRDDStorageInfo
      t.taskTotals(Seq(t0 -> t1), ctx.cores).map { case (k, v) => k -> (if (k == "spark.core_util") v else v / rounds) } ++
        Seq("cdc", "rel", "llm", "sources").map(f =>
          s"family.${f}_s" -> medMs.filter(m => family(m._1) == f).values.sum / 1000.0) ++ Map(
          "query.build_ms" -> perId(_.buildMs),
          "query.build_jobs" -> perId(e => t.jobsIn(e.t0, e.tBuilt).size.toDouble),
          "query.exec_ms" -> perId(e => e.ms - e.buildMs),
          "spark.planning_ms" -> perId(e => t.planningMsIn(e.t0, e.t1)),
          "spark.jobs" -> perId(e => t.jobsIn(e.t0, e.t1).size.toDouble),
          "spark.stages" -> perId(e => t.stagesIn(e.t0, e.t1).toDouble),
          "spark.tasks" -> perId(e => t.tasksIn(e.t0, e.t1).size.toDouble),
          "memo.resident_mb" -> storage.map(s => s.memSize + s.diskSize).sum / Trace.MB,
          "memo.blocks" -> storage.map(_.numCachedPartitions.toDouble).sum)
    }
    val r0 = System.nanoTime()
    graft.Engine.releaseAllMemos(spark)
    val releaseMs = (System.nanoTime() - r0) / 1e6
    Outcome(
      attempted = attempted,
      failed = failed,
      perCpuS = perCpuS,
      typicalMs = geoCpu,
      tailMs = slowestCpu,
      readCpuMs = readCpu,
      named = Seq(
        ("queries_per_cpu_s", perCpuS, "1/s"),
        ("query_cpu_geomean_ms", geoCpu, "ms"),
        ("slowest_query_cpu_ms", slowestCpu, "ms"),
        (s"${ReadId}_cpu_p50_ms", readCpu, "ms"),
        ("queries_per_s", qps, "1/s"),
        ("query_geomean_ms", geo, "ms"),
        ("slowest_query_ms", slowest, "ms"),
        (s"${ReadId}_p50_ms", readMs, "ms")),
      layers = layers,
      info = Seq(
        "rounds" -> rounds.toString,
        "executions" -> runs.size.toString,
        "memo_release_ms" -> f"$releaseMs%.1f",
        "median_ms" -> medMs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.toLong}" }.mkString(" "),
        "median_cpu_ms" -> cpuMs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.toLong}" }.mkString(" ")))
  }
}

package perfbench

import java.nio.file.{Files, Path}

import graft.cdc.{CdcPipeline, Stream}
import graft.sources.FileChannel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import scala.collection.mutable.ArrayBuffer

/** `cdc`: one table's change pipeline, in three timed phases on one state.
  *
  *  1. Live, an open loop: `CdcPipeline.startOn` bootstraps the snapshot
  *     and streams on a fixed processing-time trigger while one generator
  *     thread writes a small file on a fixed schedule, whatever the stream
  *     does. Each batch holds what arrived in one interval, so its contents
  *     do not depend on how long the previous batch took, and each batch
  *     rewrites every bucket, so the per-batch fixed cost dominates. A
  *     file's freshness is the commit time of the batch that made it
  *     visible minus the time the file was due.
  *  2. Backfill after an outage, a closed loop: the whole backlog exists
  *     before the timer starts, and the pipeline resumes on the same state
  *     and drains it with AvailableNow in a few large micro-batches, so JSON
  *     parsing, the fold and the bucket rewrite do most of the work.
  *  3. Lookups: seeded point lookups through `Stream.readCurrentState`
  *     against the layout the drain wrote.
  *
  * Live goes first because its untimed first seconds warm this JVM up
  * for all three phases.
  */
object CdcWorkload {
  val Keys = 25000
  val BacklogFiles = 4
  val EventsPerBacklogFile = 25000
  val BacklogFilesPerTrigger = 1
  // 20 lookups leave ten beyond the median
  val Lookups = 20

  val LiveEventsPerFile = 50
  val FileEveryMs = 100L
  // a warm batch takes 1 to 2 s on 4 cores and up to 4 s when the machine
  // is busy: the headroom keeps a slow batch from starting a backlog
  val TriggerMs = 5000L
  // the schedule starts once a first file has been folded (the JVM's first
  // batch runs cold, for 3 to 7 s); its first two intervals, whose batches
  // still run up to twice as slow as later ones, are skipped too
  val WarmupMs = 2 * TriggerMs
  // must exceed the files that arrive per trigger, or batches are capped
  // and a backlog grows
  val LiveMaxFilesPerTrigger = 10000

  final case class Written(dueMs: Long, doneMs: Long, rows: Long, bytes: Long)

  /** Writes files on a fixed schedule from `startMs` until `endMs`. */
  private final class Generator(feed: ProductFeed, dir: Path, startMs: Long, endMs: Long)
      extends Thread("perfbench-generator") {
    val written = ArrayBuffer.empty[Written]
    @volatile var error: Option[Throwable] = None
    override def run(): Unit =
      try {
        var i = 0
        var due = startMs
        while (due < endMs) {
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val b = feed.writeFile(dir, f"live-$i%06d.json", LiveEventsPerFile)
          written.synchronized { written += Written(due, System.currentTimeMillis(), LiveEventsPerFile, b) }
          i += 1
          due = startMs + i * FileEveryMs
        }
      } catch { case e: Throwable => error = Some(e) }
  }

  final case class Drain(eventsPerS: Double, eventsPerCpuS: Double, consumed: Long,
      batches: Seq[StreamingQueryProgress])

  /** Resumes the pipeline on the committed state and drains `backlog`.
    * The rates are the events drained per second of wall time, and per
    * second of CPU time of the JVM's Java threads (`Cpu.ms`), from the
    * moment `startOn` returned to the end of the drain.
    */
  private def drain(ctx: Ctx, snapshot: Path, backlog: Path, scn: Long, state: Path, checkpoint: Path): Drain = {
    val h = CdcPipeline.startOn(ctx.spark, Cdc.readBase(ctx.spark, snapshot), Seq("id"), scn,
      FileChannel(backlog.toString, BacklogFilesPerTrigger), ProductFeed.feedSchema,
      state.toString, checkpoint.toString)
    val t1 = System.nanoTime()
    val c1 = Cpu.ms
    // the stream's own thread ends with the drain: read it while it runs
    while (!h.stream.awaitTermination(100)) Cpu.ms
    val c2 = Cpu.ms
    val t2 = System.nanoTime()
    val batches = h.stream.recentProgress.toSeq.filter(_.numInputRows > 0)
    val consumed = batches.map(_.numInputRows).sum
    Drain(consumed / ((t2 - t1) / 1e9), consumed / ((c2 - c1) / 1e3), consumed, batches)
  }

  final case class Lookup(buildMs: Double, execMs: Double, cpuMs: Double, ok: Boolean) {
    def ms: Double = buildMs + execMs
  }

  private def lookups(ctx: Ctx, state: Path, n: Int, keySpace: Long, expected: Map[Long, Long],
      rnd: java.util.SplittableRandom): Seq[Lookup] = {
    val cols = ProductFeed.feedSchema.fieldNames.toSeq.map(col)
    (0 until n).map { _ =>
      val k = rnd.nextLong(keySpace)
      val c0 = Cpu.ms
      val t0 = System.nanoTime()
      val df = Stream.readCurrentState(ctx.spark, state.toString).filter(col("id") === k)
      val t1 = System.nanoTime()
      val got = df.select(xxhash64(cols: _*)).collect().map(_.getLong(0)).toSeq
      val t2 = System.nanoTime()
      Lookup((t1 - t0) / 1e6, (t2 - t1) / 1e6, Cpu.ms - c0, expected.isEmpty || got == expected.get(k).toSeq)
    }
  }

  final case class Live(files: Seq[Written], batches: Seq[StreamingQueryProgress], bootstrapS: Double,
      genError: Option[Throwable])

  /** Bootstraps the snapshot through `CdcPipeline.startOn` on a fixed
    * trigger, streams generated files for `genMs` and waits until every
    * written file is folded.
    */
  private def live(ctx: Ctx, snapshot: Path, feed: ProductFeed, state: Path, dir: Path, genMs: Long,
      onGenStart: Long => Unit): Live = {
    val changes = Files.createDirectories(dir.resolve("changes"))
    val t0 = System.nanoTime()
    val h = CdcPipeline.startOn(ctx.spark, Cdc.readBase(ctx.spark, snapshot), Seq("id"), feed.snapshotScn,
      FileChannel(changes.toString, LiveMaxFilesPerTrigger), ProductFeed.feedSchema,
      state.toString, dir.resolve("checkpoint").toString, trigger = Trigger.ProcessingTime(TriggerMs))
    val bootstrapS = (System.nanoTime() - t0) / 1e9
    def consumed = h.stream.recentProgress.map(_.numInputRows).sum
    def await(rows: Long, ms: Long): Unit = {
      val deadline = System.currentTimeMillis() + ms
      while (consumed < rows && System.currentTimeMillis() < deadline && h.stream.isActive) Thread.sleep(50)
    }
    try {
      // one file folded before the schedule starts takes the cold batch
      val warmMs = System.currentTimeMillis()
      val warm = Written(warmMs, warmMs, LiveEventsPerFile, feed.writeFile(changes, "live-warmup.json", LiveEventsPerFile))
      await(warm.rows, 12 * TriggerMs)
      val start = System.currentTimeMillis() + 100
      val gen = new Generator(feed, changes, start, start + genMs)
      onGenStart(start)
      gen.start()
      gen.join()
      val files = warm +: gen.written.toSeq
      await(files.map(_.rows).sum, 6 * TriggerMs)
      Live(files, h.stream.recentProgress.filter(_.numInputRows > 0).toSeq.sortBy(_.batchId), bootstrapS, gen.error)
    } finally h.stream.stop()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("cdc")
    val feed = new ProductFeed(ctx.seed, Keys)
    val snap = Cdc.writeSnapshot(feed, Files.createDirectories(dir))
    ctx.mark("prepare")
    val state = dir.resolve("state")

    // 1. live; its first file and first WarmupMs are the untimed warm-up of
    // this JVM. The timed window is a whole number of trigger intervals, so
    // the wait of its files for their batch is spread evenly over the
    // interval, whatever the phase of the trigger
    val windowMs = (ctx.seconds * 1000L + TriggerMs - 1) / TriggerMs * TriggerMs
    var liveT0 = 0L
    val l = live(ctx, snap, feed, state, dir.resolve("live"), WarmupMs + windowMs,
      genStart => liveT0 = ctx.startTimed(genStart + WarmupMs))
    val liveT1 = liveT0 + windowMs

    // 2. the outage: a backlog written after the live feed (so it follows
    // it in scn order), all present before the drain starts; the batch
    // fold over everything is what the lookups and the final state must
    // show
    val backlog = Files.createDirectories(dir.resolve("backlog"))
    val mtime0 = System.currentTimeMillis() - BacklogFiles * 1000L
    val backlogBytes = (0 until BacklogFiles).map { i =>
      val b = feed.writeFile(backlog, f"part-$i%04d.json", EventsPerBacklogFile)
      // distinct ascending mtimes: the file source orders equal mtimes arbitrarily
      backlog.resolve(f"part-$i%04d.json").toFile.setLastModified(mtime0 + i * 1000L)
      b
    }.sum
    val backlogEvents = BacklogFiles.toLong * EventsPerBacklogFile
    val cols = ProductFeed.feedSchema.fieldNames.toSeq.map(col)
    val expected = Cdc.expected(spark, Cdc.readBase(spark, snap), feed.snapshotScn,
      Seq(dir.resolve("live/changes"), backlog)).cache()
    val want = Cdc.digest(expected)
    val expRows = expected.select(col("id"), xxhash64(cols: _*)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    expected.unpersist()

    val drainT0 = System.currentTimeMillis()
    val d = drain(ctx, snap, backlog, feed.snapshotScn, state, dir.resolve("drain-checkpoint"))
    val drainT1 = System.currentTimeMillis()
    // 3. point lookups against the layout the drain wrote
    val looked = lookups(ctx, state, Lookups, expRows.keys.max + 1, expRows, new java.util.SplittableRandom(ctx.seed))
    val t1 = ctx.endTimed()

    // correctness: the final state is the batch fold of snapshot, live
    // feed and backlog, every written file was read, and every lookup
    // returned its key's row
    val got = Cdc.digest(Stream.readCurrentState(spark, state.toString))
    val stateOk = want == got && l.genError.isEmpty && d.consumed == backlogEvents
    if (!stateOk)
      System.err.println(s"[perfbench] cdc: state $got, batch fold $want, drained ${d.consumed} of $backlogEvents, ${l.genError}")
    val fresh = Freshness.perFile(l.files.map(f => Freshness.FileDue(f.dueMs, f.rows)),
      l.batches.map(b => Freshness.BatchCommit(Cdc.endMs(b), b.numInputRows)))
    val uncovered = fresh.count(_.isEmpty)
    if (uncovered > 0) System.err.println(s"[perfbench] cdc: $uncovered live files never reached the state")
    val failedLookups = looked.count(!_.ok)
    if (failedLookups > 0) System.err.println(s"[perfbench] cdc: $failedLookups lookups returned a wrong row")

    val samples = l.files.zip(fresh).collect { case (f, Some(ms)) if f.dueMs >= liveT0 && f.dueMs < liveT1 => ms.toDouble }
    val fresh50 = Stats.percentile(samples, 0.5, "freshness")
    val fresh90 = Stats.percentile(samples, 0.9, "freshness")
    val lookup50 = Stats.percentile(looked.map(_.ms), 0.5, "state lookup")
    val lookupCpu50 = Stats.percentile(looked.map(_.cpuMs), 0.5, "state lookup CPU")
    val steady = l.batches.filter(b => Cdc.startMs(b) >= liveT0 && Cdc.startMs(b) < liveT1)
    val late = l.files.map(f => (f.doneMs - f.dueMs).toDouble)
    val layers = ctx.trace.fold(Map.empty[String, Double]) { t =>
      t.settle()
      def inWindow(a: Long, b: Long) = t.batches.filter(p => Cdc.startMs(p) >= a && Cdc.startMs(p) < b)
      val bf = Cdc.batchLayers(t, inWindow(drainT0, drainT1), backlogBytes.toDouble / backlogEvents)
      val lv = Cdc.batchLayers(t, inWindow(liveT0, liveT1), l.files.map(_.bytes).sum.toDouble / l.files.map(_.rows).sum)
      val (stateBytes, stateFiles) = Cdc.dirSize(state)
      bf.collect { case (k, v) if k.startsWith("stream.") => "backfill." + k.stripPrefix("stream.") -> v } ++
        lv ++ t.taskTotals(Seq(liveT0 -> liveT1, drainT0 -> t1), ctx.cores) ++ Map(
          "stream.state_mb" -> stateBytes / Trace.MB,
          "stream.state_files" -> stateFiles.toDouble,
          "state_read.build_ms" -> Stats.median(looked.map(_.buildMs)),
          "state_read.exec_ms" -> Stats.median(looked.map(_.execMs)),
          "pipeline.bootstrap_s" -> l.bootstrapS,
          "spark.planning_ms" -> t.planningMsIn(liveT0, liveT1) / (steady.size max 1))
    }
    Outcome(
      attempted = 1L + looked.size + l.files.size,
      failed = (if (stateOk) 0L else 1L) + failedLookups + uncovered,
      perCpuS = d.eventsPerCpuS,
      typicalMs = fresh50,
      tailMs = fresh90,
      readCpuMs = lookupCpu50,
      named = Seq(
        ("backfill_events_per_cpu_s", d.eventsPerCpuS, "1/s"),
        ("state_lookup_cpu_p50_ms", lookupCpu50, "ms"),
        ("backfill_events_per_s", d.eventsPerS, "1/s"),
        ("state_lookup_p50_ms", lookup50, "ms"),
        ("freshness_p50_ms", fresh50, "ms"),
        ("freshness_p90_ms", fresh90, "ms"),
        ("generator_late_ms_max", late.max, "ms")),
      layers = layers,
      info = Seq(
        "backfill_events" -> backlogEvents.toString,
        "backfill_batch_ms" -> d.batches.map(b => Cdc.durMs(b, "triggerExecution").toLong).mkString(" "),
        "lookups" -> looked.size.toString,
        "live_files" -> l.files.size.toString,
        "freshness_samples" -> samples.size.toString,
        "live_batch_ms" -> l.batches.map(b => Cdc.durMs(b, "triggerExecution").toLong).mkString(" "),
        "live_batch_rows" -> l.batches.map(_.numInputRows).mkString(" "),
        "live_steady_batches" -> steady.size.toString))
  }
}

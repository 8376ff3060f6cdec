package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Dev probe: attribute HintErrorLogger, CacheManager and WindowExec
  * ("No Partition Defined for Window") warnings to query ids — runs
  * every declared query with a capturing log4j appender on those
  * loggers. An id in [[BoundedWindows]] prints one summary line for its
  * Window warnings; every other warning prints in full.
  *
  * Usage: sbt "runMain graft.tools.HintAudit <sfDir>"
  */
object HintAudit {

  /** Ids whose unpartitioned Windows read an input bounded by design,
    * with the bound; each site carries a comment naming this list. A
    * Window over a corpus- or user-sized input is never listed, so its
    * warnings keep printing.
    */
  val BoundedWindows: Map[String, String] = Map(
    "agg_heavyhitters" -> "ranks the 10 rows left after the top-10 limit",
    "corpus_shuffle" -> "prefix-sums the S = 8 row shard-size table",
    "dsir_score" -> "totals the DsirBuckets = 1024 row gram-count table",
    "dsir_select_approx" -> "totals the DsirBuckets = 1024 row gram-count table",
    "event_paths" -> "ranks the trigram counts of 5 event types (at most 125 rows)")

  private val WindowWarning = "No Partition Defined for Window"

  /** The report lines of `id`'s captured warnings. */
  def report(id: String, msgs: Seq[String]): Seq[String] = {
    val (window, other) = msgs.partition(_.contains(WindowWarning))
    val shown = BoundedWindows.get(id) match {
      case Some(bound) if window.nonEmpty =>
        Seq(s"[hint] $id x${window.size}: Window warnings, bounded by design: $bound")
      case _ => Nil
    }
    val full = if (BoundedWindows.contains(id)) other else msgs
    shown ++ full.groupBy(identity).toSeq.sortBy(_._1).map { case (m, ms) => s"[hint] $id x${ms.size}: $m" }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s = graft.Engine.session("graft-hintaudit")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
      "hint-capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("cache")) {
          val frames = Thread.currentThread().getStackTrace
            .filter(_.getClassName.startsWith("graft")).take(4)
          captured.add(msg + frames.map(f => s"\n[hint]     at $f").mkString)
        } else captured.add(msg)
        ()
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    for (lg <- Seq(
        "org.apache.spark.sql.catalyst.analysis.HintErrorLogger",
        "org.apache.spark.sql.execution.CacheManager",
        "org.apache.spark.sql.execution.window.WindowExec")) {
      cfg.addLoggerAppender(ctx.getLogger(lg), appender)
      ctx.getLogger(lg).setLevel(Level.WARN)
    }
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (id, fn) =>
      captured.clear()
      try fn(s, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[hint] $id build-error: $e") }
      report(id, captured.asScala.toList).foreach(println)
    }
    s.stop()
  }
}

package graft.tools

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Dev probe: attribute HintErrorLogger, CacheManager and WindowExec
  * ("No Partition Defined for Window") warnings to query ids — runs
  * every declared query with a capturing log4j appender on those
  * loggers.
  *
  * Usage: sbt "runMain graft.tools.HintAudit <sfDir>"
  */
object HintAudit {
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
      val msgs = new java.util.ArrayList(captured)
      if (!msgs.isEmpty) {
        val byMsg = new java.util.HashMap[String, Integer]()
        msgs.forEach(m => { byMsg.merge(m, 1, (a, b) => a + b); () })
        byMsg.forEach((m, n) => println(s"[hint] $id x$n: $m"))
      }
    }
    s.stop()
  }
}

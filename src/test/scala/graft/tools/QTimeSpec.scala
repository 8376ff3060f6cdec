package graft.tools

import java.nio.file.Files

import graft.SparkSpec

/** QTime's modes, each driven once on a cheap id at sf0.001 through
  * `run` on the suite's session (`main` would stop the shared
  * SparkContext).
  */
class QTimeSpec extends SparkSpec {

  private def qtime(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(QTime.run(spark, args.toArray))
    buf.toString("UTF-8")
  }

  private val median = raw"\[qtime\] q1_agg +median=\d+\.\d{3} s  runs=\d+\.\d{3},\d+\.\d{3}\n".r

  test("default call and prepare: the untimed prepare line, then the median line") {
    val out = qtime(sf("sf0.001"), "q1_agg", "2", "prepare")
    assert(out.startsWith("[qtime] (prepare: decon memo build "), out)
    assert(median.findFirstIn(out).nonEmpty, out)
  }

  test("jobs: each timed run prints its Spark jobs with ms under that run") {
    val out = qtime(sf("sf0.001"), "q1_agg", "2", "jobs")
    for (r <- 1 to 2)
      assert(raw"\[qtime\] q1_agg run $r: \d+\.\d{3} s, \d+ jobs \(\d+ before the DataFrame returned\)".r
        .findFirstIn(out).nonEmpty, out)
    assert(raw"\[qtime\]   job +\d+ +\d+ ms".r.findFirstIn(out).nonEmpty, out)
    assert(median.findFirstIn(out).nonEmpty, out)
  }

  test("plan: the FormattedMode plan, printed or written as <outDir>/<id>_<tag>.txt") {
    val printed = qtime(sf("sf0.001"), "q1_agg", "0", "plan")
    assert(printed.contains("== Physical Plan ==") && printed.contains("Scan parquet"), printed)
    assert(!printed.contains("median="), "runs = 0 only builds the plan")
    val dir = Files.createTempDirectory("qtime-plans")
    qtime(sf("sf0.001"), "q1_agg", "0", "plan", s"$dir/before")
    val written = new String(Files.readAllBytes(dir.resolve("q1_agg_before.txt")), "UTF-8")
    assert(written.contains("== Physical Plan =="), written)
  }

  test("exec: the last timed run's final adaptive plan") {
    val out = qtime(sf("sf0.001"), "q1_agg", "1", "exec")
    assert(out.contains("[qtime] q1_agg exec: reused="), out)
    assert(out.contains("isFinalPlan=true"), out)
  }
}

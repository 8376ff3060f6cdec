package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** HintAudit's report: a listed id's Window warnings fold into one
  * summary line; an unlisted id prints every warning.
  */
class HintAuditSpec extends AnyFunSuite {

  private val window = "No Partition Defined for Window operation! Moving all data to a single partition."

  test("a listed id prints one Window summary line and every other warning in full") {
    val out = HintAudit.report("dsir_score", Seq.fill(8)(window) :+ "Hint (strategy=broadcast) is not supported")
    assert(out == Seq(
      s"[hint] dsir_score x8: Window warnings, bounded by design: ${HintAudit.BoundedWindows("dsir_score")}",
      "[hint] dsir_score x1: Hint (strategy=broadcast) is not supported"))
  }

  test("an unlisted id prints every warning") {
    assert(!HintAudit.BoundedWindows.contains("dsir_select"))
    assert(HintAudit.report("dsir_select", Seq.fill(3)(window)) == Seq(s"[hint] dsir_select x3: $window"))
  }

  test("every listed id is a query id") {
    assert(HintAudit.BoundedWindows.keySet.subsetOf(graft.SparkEntry.queries.keySet))
  }
}

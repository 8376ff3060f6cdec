package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The density_e9 overflow contract, enforced in-engine since round 18
  * (VERDICT task 2): a planted ~1 MB document (w·len ≈ 2.6·10¹¹, far
  * past the exact form's 2·10⁹ bound — the old unguarded key would
  * throw ARITHMETIC_OVERFLOW under Spark 4's ANSI default) must flow
  * through both select_budget_density forms without error, carrying the
  * re-based key density_e9 = half-up(quality_e6·1000/n_tokens), while
  * every in-contract doc keeps the exact branch bit-identically. The
  * cross-engine half of the proof is tools/OverflowFixture + the
  * check.py differential (BASELINE.md round-18 record).
  */
class OverflowContractSpec extends SparkSpec {

  /** ~1 MB of word-shaped text: 256 000 words, 8 of them stopwords per
    * 32-word block — large enough that w·len ≈ 2.6·10¹¹ breaks the
    * exact density form but stays inside quality_e6's 4.6·10¹² bound.
    */
  private lazy val giant: String =
    Array.fill(32000)("the be to of and that have with " +
      "lorem ipsum dolor sit amet consectetur adipiscing elit").mkString(" ")

  private def plantedDir(): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ovf").toString
    val base = graft.Tables(s, sf("sf0.001")).documents
      .select("doc_id", "source", "text")
    val big = Seq((999999999L, "planted", giant)).toDF("doc_id", "source", "text")
    base.unionByName(big).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("planted ~1MB doc: density path runs, key matches the re-based exact replay") {
    val s = spark
    import s.implicits._
    val (w, _, _, len) = {
      val c = ExactQualityKit.counts(giant)
      (c._1, c._2, c._3, c._4)
    }
    assert(w * len > 2000000000L, s"fixture must break the exact bound (w*len=${w * len})")
    assert(w * len < 4600000000000L, "but stay inside quality_e6's bound")

    val dir = plantedDir()
    // the exact (global-window) form — would have thrown pre-guard
    val exact = graft.SparkEntry.queries("select_budget_density")(s, dir)
    assert(exact.count() >= 0) // forces full evaluation over the giant doc
    // the histogram-threshold twin
    val approx = graft.SparkEntry.queries("select_budget_density_approx")(s, dir)
    assert(approx.count() >= 0)

    // the giant doc's key must equal the independent guarded replay;
    // surface it by scoring the full corpus without the budget filter
    val keyed = TextOps.scoreDensity(graft.Tables(s, dir).documents)
    val bigKey = keyed.filter(col("doc_id") === 999999999L)
      .select("density_e9").as[Long].head()
    assert(bigKey == ExactQualityKit.densityE9(giant).get,
      "giant doc must carry the re-based key")

    // and a handful of in-contract docs keep the exact branch unchanged
    val sample = keyed.filter(col("doc_id") < 100L)
      .select("doc_id", "density_e9").as[(Long, Long)].collect()
    assert(sample.nonEmpty)
    val texts = graft.Tables(s, dir).documents
      .filter(col("doc_id") < 100L)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    sample.foreach { case (id, k) =>
      assert(ExactQualityKit.densityE9(texts(id)).contains(k),
        s"doc $id in-contract key changed")
    }
  }

  test("BIGINT overflow throws under the engine's session defaults (ANSI on), never wraps") {
    // Engine.session sets no ANSI conf, so the engine runs at Spark 4's
    // default, as this suite's session does
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val e = intercept[Exception](
      spark.range(1).select((lit(Long.MaxValue) * lit(2L)).as("x")).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e.toString)
  }
}

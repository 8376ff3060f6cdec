package graft

import graft.llm.VectorOps
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The memo registry: nested builds, failed builds, stopped-session
  * eviction, and the one release rule over every memo family.
  */
class MemoSpec extends SparkSpec {

  test("(a) nested builds: an outer build that reads an inner slot never throws") {
    val outer = Memo.slot[Int, Int]("MemoSpec.outer")
    val inner = Memo.slot[Int, Int]("MemoSpec.inner")
    val got = (0 until 256).map(i => outer(spark, i)(inner(spark, i)(2 * i) + 1))
    assert(got == (0 until 256).map(i => 2 * i + 1))
    // both levels are memoized: a second pass builds nothing
    assert((0 until 256).map(i => outer(spark, i)(fail(s"outer $i rebuilt"))) == got)
    assert((0 until 256).map(i => inner(spark, i)(fail(s"inner $i rebuilt"))) ==
      (0 until 256).map(2 * _))
  }

  test("(b) a build that throws leaves no entry; the next call builds exactly once") {
    val slot = Memo.slot[String, Int]("MemoSpec.flaky")
    var builds = 0
    val e = intercept[IllegalStateException] {
      slot(spark, "k") { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(!Memo.entries(spark).exists(_._1 == "MemoSpec.flaky"))
    assert(slot(spark, "k") { builds += 1; 7 } == 7)
    assert(slot(spark, "k") { builds += 1; 8 } == 7)
    assert(builds == 2)
  }

  test("concurrent callers of one key share one build") {
    val slot = Memo.slot[String, Int]("MemoSpec.concurrent")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val calls = (1 to 8).map(_ => Future(slot(spark, "k") {
      builds.incrementAndGet(); Thread.sleep(100); 42
    }))
    assert(Await.result(Future.sequence(calls), 60.seconds) == Seq.fill(8)(42))
    assert(builds.get == 1)
  }

  test("slot names are unique") {
    Memo.slot[String, Int]("MemoSpec.once")
    intercept[IllegalArgumentException](Memo.shared[String, Int]("MemoSpec.once"))
  }

  test("(c) the next access evicts the entries of a stopped session") {
    // Stopping a session stops the JVM's one SparkContext, which every
    // suite here shares — so the check runs in a child JVM.
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx768m", "-cp", sys.props("java.class.path"), "graft.MemoEvictionProbe")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0 && out.toString.contains(MemoEvictionProbe.Ok), out.toString)
  }

  private def cached(d: Dataset[_]): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(d.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty

  test("(d) releaseAllMemos unpersists every family's memo Datasets and keeps driver-side models") {
    val dir = sf("sf0.001")
    val ids = Seq("dedup_near", "dedup_cluster", "bm25_topk", "fingerprint_winnow",
      "decontaminate_bloom", "vec_pq", "ann_pq", "corpus_export", "mm_features")
    ids.foreach(id => SparkEntry.queries(id)(spark, dir).collect())
    val owned = Memo.entries(spark)
    val slots = owned.map(_._1).toSet
    for (family <- Seq("NearDedup.shingleCache", "NearDedup.clusterCache",
        "TextOps.bm25TfCache", "TextOps.winnowFpCache", "Curation.evalNgCache",
        "VectorOps.pqCodesCache", "Bpe.tokTabCache", "Multimodal.imageCache",
        "Bpe.mergeCache", "Curation.bloomCache"))
      assert(slots.contains(family), s"$family was not built by $ids")
    val memoDs = owned.flatMap(_._3).flatMap(Memo.datasets)
    assert(memoDs.count(cached) >= 8, "the persisted memos must be in the cache manager")

    Engine.releaseAllMemos(spark)
    val leaked = memoDs.filter(cached)
    assert(leaked.isEmpty, s"${leaked.size} memo Datasets still cached after release")
    val kept = Memo.entries(spark).map(_._1).toSet
    assert(kept.contains("Bpe.mergeCache") && kept.contains("Curation.bloomCache"),
      "driver-side models survive release")
    assert(!kept.exists(Set("NearDedup.shingleCache", "TextOps.bm25TfCache",
      "VectorOps.pqCodesCache", "Multimodal.imageCache")), kept)

    // the rebuilt code table reuses the trained codebooks
    val trained = VectorOps.pqTrainCount.get()
    Seq("vec_pq", "ann_pq").foreach(id => SparkEntry.queries(id)(spark, dir).collect())
    assert(VectorOps.pqTrainCount.get() == trained, "release must not retrain the PQ model")
  }
}

/** Child-JVM half of MemoSpec (c): builds an entry under one session,
  * stops it, and checks that the next access under a new session
  * evicts the stopped session's entry.
  */
object MemoEvictionProbe {
  val Ok = "memo eviction ok"

  private def session(): SparkSession = SparkSession.builder()
    .master("local[1]").appName("memo-eviction")
    .config("spark.ui.enabled", "false").getOrCreate()

  def main(args: Array[String]): Unit = {
    val slot = Memo.slot[String, Int]("MemoEvictionProbe.slot")
    val first = session()
    first.sparkContext.setLogLevel("ERROR")
    slot(first, "k")(1)
    first.stop()
    val held = Memo.entries(first).size // eviction is lazy: still held
    val second = session()
    second.sparkContext.setLogLevel("ERROR")
    val v = slot(second, "k")(2)
    val left = Memo.entries(first).size
    second.stop()
    if (held == 1 && left == 0 && v == 2) println(Ok)
    else {
      println(s"held=$held left=$left v=$v")
      sys.exit(1)
    }
  }
}

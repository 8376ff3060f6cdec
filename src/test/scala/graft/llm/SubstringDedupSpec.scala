package graft.llm

import graft.SparkSpec
import graft.store.Store
import org.apache.spark.sql.functions._

/** Exact substring dedup (Lee et al. 2021) — the span-ownership rule
  * over k-gram hashes. The headline test is the operator's reason to
  * exist: a 50-token verbatim copy embedded in an otherwise-different
  * long document is CAUGHT here while doc-level MinHash-Jaccard at the
  * family's 0.5 threshold misses it (the span is a sliver of the
  * shingle set).
  */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")

  test("planted 50-token copy: caught by substring dedup, missed by 8-gram Jaccard") {
    // doc 1: 200 unique tokens containing a 50-token span at offset 100;
    // doc 2: 300 DIFFERENT tokens except the same 50-token span at offset 40.
    val span = words("shared", 50)
    val d1 = words("alpha", 100) ++ span ++ words("beta", 50)
    val d2 = words("gamma", 40) ++ span ++ words("delta", 210)
    val docs = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")))
      .toDF("doc_id", "text")

    // substring dedup drops doc 2 (shares a >=20-token span with doc 1)
    val kept = NearDedup.dedupSubstring(docs, k = 20)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L))

    // the family's doc-level near-dup pipeline does NOT pair them:
    // shared 3-shingles = 48 of (198 + 298) distinct shingles → Jaccard
    // ≈ 0.107, far under the 0.5 verify threshold — and the operator's
    // full pair output is empty.
    val arrs = NearDedup.shingleArrays(docs)
    val pairs = NearDedup.jaccard(
      NearDedup.candidates(NearDedup.banded(arrs)), arrs)
      .filter(col("jacc") >= 0.5)
    assert(pairs.count() == 0L)
    // but the pair they WOULD form scores well under threshold even if
    // banding had colliding them — the miss is semantic, not luck: the
    // exact Jaccard of the two shingle sets is < 0.15
    val j = NearDedup.jaccard(
      Seq((1L, 2L)).toDF("doc1", "doc2"), arrs)
      .select("jacc").as[Double].head()
    assert(j < 0.15, s"planted overlap should be a sliver of the set, got $j")
  }

  test("earlier-doc rule: ownership is by minimum doc_id, chains drop all later sharers") {
    // three docs all containing the same 20-token span: only the
    // smallest id survives (2 and 3 each share with EARLIER doc 1,
    // regardless of 2's own removal — the Lee et al. doc-level rule is
    // parallel, not sequential admission)
    val span = words("s", 20)
    val docs = Seq(
      (1L, (words("a", 30) ++ span).mkString(" ")),
      (2L, (span ++ words("b", 30)).mkString(" ")),
      (3L, (words("c", 15) ++ span ++ words("d", 15)).mkString(" "))
    ).toDF("doc_id", "text")
    val kept = NearDedup.dedupSubstring(docs, k = 20)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L))
  }

  test("no shared span of length k: everything survives (k-1 overlap is not enough)") {
    // docs share only a 19-token run; with k=20 no window matches
    val span = words("x", 19)
    val docs = Seq(
      (1L, (words("p", 40) ++ span).mkString(" ")),
      (2L, (span ++ words("q", 40)).mkString(" "))
    ).toDF("doc_id", "text")
    val kept = NearDedup.dedupSubstring(docs, k = 20)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("short docs (< k tokens) never participate, even if identical") {
    val docs = Seq(
      (1L, words("t", 10).mkString(" ")),
      (2L, words("t", 10).mkString(" "))
    ).toDF("doc_id", "text")
    val kept = NearDedup.dedupSubstring(docs, k = 20)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("gram generation: sliding windows, distinct within doc, exact count") {
    // 25 tokens, k=20 → 6 windows, all distinct
    val docs = Seq((7L, words("w", 25).mkString(" "))).toDF("doc_id", "text")
    val grams = NearDedup.substringGrams(docs, k = 20)
    assert(grams.count() == 6L)
    // a doc of one repeated token: all windows identical → ONE gram
    // (array_distinct caps per-doc emission at distinct windows)
    val rep = Seq((8L, Seq.fill(30)("same").mkString(" "))).toDF("doc_id", "text")
    assert(NearDedup.substringGrams(rep, k = 20).count() == 1L)
  }

  test("spans: a planted 50-token copy is recovered with exact boundaries") {
    val span = words("shared", 50)
    val d1 = words("alpha", 100) ++ span ++ words("beta", 50)   // span at tokens 101..150
    val d2 = words("gamma", 40) ++ span ++ words("delta", 210)  // span at tokens 41..90
    val docs = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")))
      .toDF("doc_id", "text")
    val spans = NearDedup.substringSpans(docs, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 owns every gram (smaller id) — no spans; doc 2's flagged
    // windows are exactly those inside the copy, merging to [41, 90]
    assert(spans.toSeq == Seq((2L, 41L, 90L)), spans.mkString(","))
  }

  test("spans: two separated copies yield two spans; a full-doc clone yields one full span") {
    val s1 = words("one", 25)
    val s2 = words("two", 25)
    val owner = (s1 ++ words("mid", 30) ++ s2).mkString(" ")
    val copier = (words("x", 10) ++ s1 ++ words("y", 40) ++ s2 ++ words("z", 10)).mkString(" ")
    val docs = Seq((1L, owner), (2L, copier), (3L, owner))
      .toDF("doc_id", "text")
    val spans = NearDedup.substringSpans(docs, k = 20)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 2: s1 at 11..35, s2 at 76..100; doc 3: the whole 80 tokens
    assert(spans.toSeq == Seq((2L, 11L, 35L), (2L, 76L, 100L), (3L, 1L, 80L)),
      spans.mkString(","))
  }

  test("scrub: duplicated ranges removed, owner and clean text untouched, full clones vanish") {
    val span = words("shared", 50)
    val d1 = words("alpha", 100) ++ span ++ words("beta", 50)
    val d2 = words("gamma", 40) ++ span ++ words("delta", 210)
    val docs = Seq(
      (1L, d1.mkString(" ")),
      (2L, d2.mkString(" ")),
      (3L, d1.mkString(" ")) // full clone of doc 1 → scrubbed to nothing
    ).toDF("doc_id", "text")
    val got = NearDedup.substringScrub(docs, k = 20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // owner keeps everything; doc 2 loses exactly the copied 50 tokens;
    // doc 3 (wholly duplicated) drops out of the result
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == d1.mkString(" "))
    assert(got(2L) == (words("gamma", 40) ++ words("delta", 210)).mkString(" "))
  }

  test("fixture run is non-vacuous and matches the independent min-owner replay") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val kept = NearDedup.dedupSubstring(docs, k = 20)
      .select("doc_id").as[Long].collect().toSet
    val total = docs.count()
    assert(kept.size < total, "expected at least one dropped doc in the fixture")
    // independent replay in local Scala: same tokenization, same rule
    val local = docs.select("doc_id", "text").as[(Long, String)].collect()
    val owner = scala.collection.mutable.HashMap.empty[String, Long]
    local.sortBy(_._1).foreach { case (id, text) =>
      val ws = text.split(" ", -1)
      if (ws.length >= 20)
        ws.sliding(20).map(_.mkString(" ")).foreach { w =>
          if (!owner.contains(w) || owner(w) > id) owner(w) = id
        }
    }
    val expectDropped = local.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      val hit = ws.length >= 20 &&
        ws.sliding(20).map(_.mkString(" ")).exists(w => owner(w) < id)
      if (hit) Some(id) else None
    }.toSet
    assert(kept == local.map(_._1).toSet -- expectDropped)
  }

  // ---- incremental admission (admitSubstring family) ----

  /** docs 1/2 share span A (2 rejected intra-batch); doc 3 shares span B
    * with the REJECTED doc 2 only; doc 4 is all-unique. One-shot
    * min-owner survivors: {1, 4} — doc 3 drops because ownership is by
    * SEEN docs, not surviving ones.
    */
  private def chainDocs: Seq[(Long, String)] = {
    val spanA = words("sharedA", 30)
    val spanB = words("sharedB", 25)
    Seq(
      1L -> (words("alpha", 60) ++ spanA).mkString(" "),
      2L -> (words("beta", 40) ++ spanA ++ spanB).mkString(" "),
      3L -> (words("gamma", 50) ++ spanB).mkString(" "),
      4L -> words("delta", 70).mkString(" "))
  }

  test("incremental admission: batches in doc order equal the one-shot rule (chain through a rejected doc)") {
    val docs = chainDocs.toDF("doc_id", "text")
    val oneShot = NearDedup.dedupSubstring(docs, k = 20)
      .select("doc_id").as[Long].collect().toSet
    assert(oneShot == Set(1L, 4L), s"fixture sanity: $oneShot")
    // fold the same docs through admitSubstring in doc-ordered batches
    var owned = NearDedup.substringGrams(docs.limit(0), 20).select("g")
    var admitted = Set.empty[Long]
    Seq(Seq(1L, 2L), Seq(3L, 4L)).foreach { ids =>
      val batch = docs.filter(col("doc_id").isin(ids: _*))
      val (out, newOwned) = NearDedup.admitSubstring(batch, owned, k = 20)
      admitted ++= out.select("doc_id").as[Long].collect()
      owned = owned.unionByName(newOwned)
    }
    assert(admitted == oneShot,
      s"batch chain diverged from one-shot: $admitted vs $oneShot")
  }

  test("re-admission: a doc whose spans are already owned is rejected on re-send") {
    val docs = chainDocs.toDF("doc_id", "text")
    val (out1, owned) = NearDedup.admitSubstring(
      docs.filter(col("doc_id") === 1L),
      NearDedup.substringGrams(docs.limit(0), 20).select("g"), k = 20)
    assert(out1.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // same text re-sent under a NEW id: every gram is owned → rejected
    val resent = docs.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val (out2, newOwned) = NearDedup.admitSubstring(resent, owned, k = 20)
    assert(out2.isEmpty, "owned-span re-send must be rejected")
    assert(newOwned.isEmpty, "a fully-owned doc contributes no new grams")
  }

  test("durable state fold: redelivery is a no-op, rejected docs stay rejected, grams of rejected docs still own") {
    val docs = chainDocs.toDF("doc_id", "text")
    val stateDir = java.nio.file.Files.createTempDirectory("substr-st").resolve("t").toString
    val b1 = docs.filter(col("doc_id").isin(1L, 2L))
    NearDedup.admitSubstringToState(b1, stateDir)
    def live = Store.live(spark, stateDir).get
    def outIds = spark.read.parquet(s"$live/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outIds == Set(1L))
    // REDELIVERY of batch 1: doc 1 guarded by out/, doc 2 re-evaluated
    // against owned/ (its own grams) → rejected again; state unchanged
    NearDedup.admitSubstringToState(b1, stateDir)
    assert(outIds == Set(1L), "redelivered batch must not change the state")
    val ownedCount = spark.read.parquet(s"$live/owned").count()
    NearDedup.admitSubstringToState(b1, stateDir)
    assert(spark.read.parquet(s"$live/owned").count() == ownedCount,
      "redelivery must not grow the gram state")
    // batch 2: doc 3 shares span B with the REJECTED doc 2 → still
    // rejected (grams of rejected docs own); doc 4 admitted
    NearDedup.admitSubstringToState(docs.filter(col("doc_id").isin(3L, 4L)), stateDir)
    assert(outIds == Set(1L, 4L))
  }

  test("durable state fold: a torn batch recovers all-or-nothing (no admit-a-duplicate)") {
    val docs = chainDocs.toDF("doc_id", "text")
    val b1 = docs.filter(col("doc_id").isin(1L, 2L))
    val base = java.nio.file.Files.createTempDirectory("substr-crash")

    // CASE 1 — crash AFTER the commit marker, BEFORE promotion (the
    // all-or-nothing replacement for the old torn out/-without-owned/
    // state, which would have ADMITTED the redelivered doc 2): stage
    // the batch's real results + _committed by hand, then redeliver.
    val st1 = base.resolve("committed").toString
    val emptyOwned = NearDedup.substringGrams(docs.limit(0), 20).select("g")
    val (out1, owned1) = NearDedup.admitSubstring(b1, emptyOwned, k = 20)
    out1.write.parquet(s"$st1/stage/b1/out")
    owned1.write.parquet(s"$st1/stage/b1/owned")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$st1/stage/b1/_committed"))
    NearDedup.admitSubstringToState(b1, st1)
    def outIds(st: String) = spark.read.parquet(s"${Store.live(spark, st).get}/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outIds(st1)
      == Set(1L), "recovered redelivery must keep doc 2 rejected")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$st1/stage/b1")),
      "committed stage must be promoted and removed")

    // CASE 2 — crash BEFORE the marker: the stage is dropped whole and
    // the redelivered batch evaluates fresh (same end state)
    val st2 = base.resolve("uncommitted").toString
    out1.write.parquet(s"$st2/stage/b1/out") // half-written, no marker
    NearDedup.admitSubstringToState(b1, st2)
    assert(outIds(st2)
      == Set(1L), "uncommitted stage must not leak into the state")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$st2/stage/b1")),
      "uncommitted stage must be deleted")

    // both recovered states continue the chain identically
    Seq(st1, st2).foreach { st =>
      NearDedup.admitSubstringToState(docs.filter(col("doc_id").isin(3L, 4L)), st)
      assert(outIds(st)
        == Set(1L, 4L), s"$st: chain after recovery diverged from one-shot")
    }
  }

  test("durable state fold: a FALSE-returning rename fails the batch and leaves committed state intact") {
    // Hadoop FS reports most move failures via rename's BOOLEAN, not an
    // exception; a promote that ignored it and proceeded to the stage
    // delete would destroy the only copy of a committed batch's state.
    // Drive the fold through a FileSystem whose live-promotion renames
    // can be armed to return false (stage-internal renames — Spark's
    // own committer — pass through untouched).
    val docs = chainDocs.toDF("doc_id", "text")
    val b1 = docs.filter(col("doc_id").isin(1L, 2L))
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrn.impl", classOf[FailingRenameFs].getName)
    val base = java.nio.file.Files.createTempDirectory("substr-failrn")
    val stateDir = s"failrn:$base/t"
    val localDir = s"$base/t"

    // batch 1 commits normally (disarmed)
    NearDedup.admitSubstringToState(b1, stateDir)
    def live = Store.live(spark, localDir).get
    def outIds = spark.read.parquet(s"$live/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outIds == Set(1L))
    val ownedCount = spark.read.parquet(s"$live/owned").count()

    // batch 2's promote hits a false-returning rename: the batch MUST
    // fail (require), the stage (with its _committed marker) MUST
    // survive for recovery, and the live state MUST be untouched
    FailingRenameFs.failLivePromotes.set(true)
    try {
      val e = intercept[IllegalArgumentException] {
        NearDedup.admitSubstringToState(docs.filter(col("doc_id").isin(3L, 4L)), stateDir)
      }
      assert(e.getMessage.contains("rename"), e.getMessage)
    } finally FailingRenameFs.failLivePromotes.set(false)
    assert(outIds == Set(1L), "failed promote must not change the live state")
    assert(spark.read.parquet(s"$live/owned").count() == ownedCount,
      "failed promote must not change the gram state")
    val stages = java.nio.file.Files.list(java.nio.file.Paths.get(s"$localDir/stage"))
    val staged = try {
      val it = stages.iterator(); val b = Seq.newBuilder[java.nio.file.Path]
      while (it.hasNext) b += it.next(); b.result()
    } finally stages.close()
    assert(staged.nonEmpty, "the committed stage must survive the failed promote")
    assert(staged.forall(p => java.nio.file.Files.exists(p.resolve("_committed"))),
      "the surviving stage must still carry its commit marker")

    // next touch recovers: the committed stage promotes, end state ==
    // the never-failed chain, stage drained
    NearDedup.admitSubstringToState(docs.filter(col("doc_id").isin(3L, 4L)), stateDir)
    assert(outIds == Set(1L, 4L), "recovery must complete the committed batch")
    val stages2 = java.nio.file.Files.list(java.nio.file.Paths.get(s"$localDir/stage"))
    try assert(!stages2.iterator().hasNext, "promoted stage must be removed")
    finally stages2.close()
  }


  test("winnow admission: doc-ordered batches equal the one-shot pass, seen docs own") {
    val docs = chainDocs.toDF("doc_id", "text")
    val empty = TextOps.winnowFingerprints(docs.limit(0)).select("h")
    val oneShot = NearDedup.admitWinnow(docs, empty)._1
      .select("doc_id").as[Long].collect().toSet
    var owned = empty
    var admitted = Set.empty[Long]
    Seq(Seq(1L, 2L), Seq(3L), Seq(4L)).foreach { ids =>
      val (out, newOwned) = NearDedup.admitWinnow(
        docs.filter(col("doc_id").isin(ids: _*)), owned)
      admitted ++= out.select("doc_id").as[Long].collect()
      owned = owned.unionByName(newOwned)
    }
    assert(admitted == oneShot, s"batch chain diverged: $admitted vs $oneShot")
    // the spans planted for the substring rule also drive this one:
    // docs 2 and 3 share long runs with earlier docs -> >= 2 owned
    // fingerprints -> rejected; 1 and 4 are first-of-their-content
    assert(oneShot == Set(1L, 4L), s"unexpected one-shot admission: $oneShot")
    // identical text under a new id re-sends fully-owned fingerprints
    val resent = docs.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val ownedAfter1 = NearDedup.admitWinnow(docs.filter(col("doc_id") === 1L), empty)._2
    val (out2, new2) = NearDedup.admitWinnow(resent, ownedAfter1)
    assert(out2.isEmpty, "owned-fingerprint re-send must be rejected")
    assert(new2.isEmpty, "a fully-owned doc contributes no new fingerprints")
  }

  test("winnow admission durable fold: torn batch recovers all-or-nothing") {
    val docs = chainDocs.toDF("doc_id", "text")
    val b1 = docs.filter(col("doc_id").isin(1L, 2L))
    val base = java.nio.file.Files.createTempDirectory("winnow-crash")
    val st = base.resolve("t").toString
    // commit marker written, promotion lost -> recovery must finish it
    val empty = TextOps.winnowFingerprints(docs.limit(0)).select("h")
    val (out1, owned1) = NearDedup.admitWinnow(b1, empty)
    out1.write.parquet(s"$st/stage/b1/out")
    owned1.write.parquet(s"$st/stage/b1/owned")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$st/stage/b1/_committed"))
    NearDedup.admitWinnowToState(b1, st)
    def outIds = spark.read.parquet(s"${Store.live(spark, st).get}/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outIds
      == Set(1L), "recovered redelivery must keep doc 2 rejected")
    NearDedup.admitWinnowToState(docs.filter(col("doc_id").isin(3L, 4L)), st)
    assert(outIds
      == Set(1L, 4L), "chain after recovery diverged from one-shot")
  }

  test("streaming admission fold: accumulates survivors across batches and restarts") {
    val s = spark
    val in = java.nio.file.Files.createTempDirectory("substr-in")
    val stateDir = java.nio.file.Files.createTempDirectory("substr-sst").resolve("t").toString
    val chk = java.nio.file.Files.createTempDirectory("substr-chk").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val byId = chainDocs.toMap
    def line(id: Long) = s"""{"doc_id":$id,"text":"${byId(id)}"}"""
    def run(): Unit = {
      val feed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in.toString)
      NearDedup.admitSubstringStream(feed, stateDir, chk).awaitTermination()
    }
    java.nio.file.Files.write(in.resolve("a-0.json"),
      String.join("\n", line(1L), line(2L)).getBytes)
    run()
    def outIds = s.read.parquet(s"${Store.live(s, stateDir).get}/out")
      .select("doc_id").as[Long].collect().toSet
    assert(outIds == Set(1L))
    // restart on the same checkpoint: batch 2 arrives
    java.nio.file.Files.write(in.resolve("b-0.json"),
      String.join("\n", line(3L), line(4L)).getBytes)
    run()
    assert(outIds == Set(1L, 4L))
  }

  test("dedup_substring_incr id: deterministic, odd-batch survivors that respect even-state ownership") {
    val df = graft.SparkEntry.queries("dedup_substring_incr")(spark, sf("sf0.001"))
    val rows = df.select("doc_id").as[Long].collect()
    assert(rows.nonEmpty && rows.forall(_ % 2 != 0), "admitted ids must be odd (the batch)")
    assert(rows.sorted.sameElements(rows), "ordered output")
    val again = graft.SparkEntry.queries("dedup_substring_incr")(spark, sf("sf0.001"))
      .select("doc_id").as[Long].collect()
    assert(rows.sameElements(again), "admission must be deterministic")
    // independent replay of the even/odd admission in local Scala
    val local = graft.Tables(spark, sf("sf0.001")).documents
      .select("doc_id", "text").as[(Long, String)].collect()
    val owned = scala.collection.mutable.HashSet.empty[String]
    local.filter(_._1 % 2 == 0).foreach { case (_, text) =>
      val ws = text.split(" ", -1)
      if (ws.length >= 20) ws.sliding(20).foreach(w => owned += w.mkString(" "))
    }
    val intraOwner = scala.collection.mutable.HashMap.empty[String, Long]
    val odds = local.filter(_._1 % 2 != 0).sortBy(_._1)
    odds.foreach { case (id, text) =>
      val ws = text.split(" ", -1)
      if (ws.length >= 20) ws.sliding(20).map(_.mkString(" ")).foreach { w =>
        if (!intraOwner.contains(w)) intraOwner(w) = id
      }
    }
    val expect = odds.filter { case (id, text) =>
      val ws = text.split(" ", -1)
      !(ws.length >= 20 && ws.sliding(20).map(_.mkString(" ")).exists(w =>
        owned.contains(w) || intraOwner(w) < id))
    }.map(_._1).toSet
    assert(rows.toSet == expect, "engine admission diverged from the local replay")
  }

  test("state compaction: fewer files, identical admissions, crash windows recover") {
    val docs = chainDocs.toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("substr-compact")
    val st = base.resolve("t").toString
    val twin = base.resolve("twin").toString
    // three single-doc batches → one part-file set per batch in out/owned
    Seq(Seq(1L), Seq(2L), Seq(3L)).foreach { ids =>
      NearDedup.admitSubstringToState(docs.filter(col("doc_id").isin(ids: _*)), st)
      NearDedup.admitSubstringToState(docs.filter(col("doc_id").isin(ids: _*)), twin)
    }
    def live(d: String) = Store.live(spark, d).get
    def parts(d: String): Int = {
      val f = new java.io.File(d)
      if (!f.isDirectory) 0
      else f.listFiles().count(_.getName.endsWith(".parquet"))
    }
    def outRows(d: String) = spark.read.parquet(s"${live(d)}/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def stateFiles = parts(s"${live(st)}/out") + parts(s"${live(st)}/owned")
    val filesBefore = stateFiles
    val outBefore = outRows(st)
    val ownedBefore = spark.read.parquet(s"${live(st)}/owned").count()
    NearDedup.compactAdmissionState(spark, st)
    assert(stateFiles < filesBefore,
      s"compaction must reduce the part-file count (was $filesBefore)")
    assert(outRows(st) == outBefore, "compaction must not change admitted docs")
    assert(spark.read.parquet(s"${live(st)}/owned").count() == ownedBefore,
      "compaction must not change the gram state")
    // the chain continues identically to the never-compacted twin
    NearDedup.admitSubstringToState(docs.filter(col("doc_id") === 4L), st)
    NearDedup.admitSubstringToState(docs.filter(col("doc_id") === 4L), twin)
    assert(outRows(st) == outRows(twin),
      "post-compaction admissions diverged from the uncompacted twin")

    // a compaction that crashed before its publish leaves a generation
    // that `_current` does not name: a fold reads past it (reading its
    // empty table would fail), and the next compaction's GC removes it
    val orphan = java.nio.file.Paths.get(st, "gen-00000009-orphan")
    java.nio.file.Files.createDirectories(orphan.resolve("out"))
    NearDedup.admitSubstringToState(docs.filter(col("doc_id") === 4L), st) // redelivery
    assert(outRows(st) == outRows(twin), "an uncommitted generation leaked into the state")
    NearDedup.compactAdmissionState(spark, st)
    assert(!java.nio.file.Files.exists(orphan), "the uncommitted generation must be collected")
    assert(outRows(st) == outRows(twin))
  }
}

/** Local filesystem under the `failrn:` scheme whose LIVE-promotion
  * renames (src inside a `/stage/`, dst outside one) return false while
  * [[FailingRenameFs.failLivePromotes]] is armed — everything else,
  * including Spark's own committer renames inside the stage, behaves
  * normally. Instantiated by Hadoop reflection via `fs.failrn.impl`.
  */
class FailingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrn:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (FailingRenameFs.failLivePromotes.get() &&
        src.toString.contains("/stage/") && !dst.toString.contains("/stage/"))
      false
    else super.rename(src, dst)
}

object FailingRenameFs {
  val failLivePromotes = new java.util.concurrent.atomic.AtomicBoolean(false)
}

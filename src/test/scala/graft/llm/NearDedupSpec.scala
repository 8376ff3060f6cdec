package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LSH guarantees worth enforcing: documents with IDENTICAL shingle sets
  * have identical minhash signatures in every band, so every exact-dup
  * pair MUST surface as a candidate (recall 1.0 on exact dups), and the
  * Jaccard verifier must score them 1.0.
  */
class NearDedupSpec extends SparkSpec {

  test("exact duplicates always collide in every LSH band") {
    val s = spark
    import s.implicits._
    val base = graft.Tables(s, sf("sf0.001")).documents
      .select("doc_id", "text").limit(20)
    // clone each doc with doc_id + 10000
    val clones = base.select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val docs = base.unionByName(clones)
    val arrs = NearDedup.shingleArrays(docs)
    val cand = NearDedup.candidates(NearDedup.banded(arrs))
    val pairs = cand.collect().map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    val expected = base.select("doc_id").as[Long].collect()
      .filter(id => arrsHasShingles(arrs, id)).map(id => (id, id + 10000)).toSet
    assert(expected.subsetOf(pairs), s"missing exact-dup pairs: ${expected.diff(pairs)}")
    // and the verifier scores them 1.0
    val scored = NearDedup.jaccard(cand, arrs)
      .filter(col("doc2") === col("doc1") + 10000)
      .select("jacc").as[Double].collect()
    assert(scored.nonEmpty && scored.forall(_ == 1.0))
  }

  private def arrsHasShingles(arrs: org.apache.spark.sql.DataFrame, id: Long): Boolean =
    arrs.filter(col("doc_id") === id).count() == 1

  test("connected components: chains collapse to min-id clusters") {
    val s = spark
    import s.implicits._
    // chain 1-2, 2-3, 3-4 (diameter 3: needs multiple propagation
    // rounds), separate pair 10-11, singleton pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("doc1", "doc2")
    val got = NearDedup.connectedComponents(pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: long chain converges within the cap, past it fails loudly") {
    val s = spark
    import s.implicits._
    // planted 13-node chain (diameter 12): min-label propagation needs
    // ~diameter rounds, so this exercises the localCheckpoint path
    // (every 5th round) AND converges well inside the default cap.
    // driverEdgeLimit = 0 forces the DISTRIBUTED loop (a 12-edge graph
    // would otherwise take the driver union-find fast-path).
    val chain = (1L to 12L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val got = NearDedup.connectedComponents(chain, driverEdgeLimit = 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got.keySet == (1L to 13L).toSet && got.values.forall(_ == 1L))
    // the default-path (driver union-find) labels must agree exactly
    val gotDriver = NearDedup.connectedComponents(chain)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(gotDriver == got, "driver union-find must match the distributed loop")
    // and a cap below the diameter fails loudly instead of spinning
    val e = intercept[IllegalStateException] {
      NearDedup.connectedComponents(chain, maxIters = 3, driverEdgeLimit = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: output schema matches the input id type on both paths") {
    val s = spark
    import s.implicits._
    // integer ids under the driver limit: both columns come back INT,
    // not the driver path's internal Long packing
    val intPairs = Seq((1, 2), (10, 11)).toDF("doc1", "doc2")
    val gotInt = NearDedup.connectedComponents(intPairs)
    assert(gotInt.schema.map(_.dataType).distinct ==
      Seq(org.apache.spark.sql.types.IntegerType))
    assert(gotInt.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 10 -> 10, 11 -> 10))
    // string ids can't pack into Long: the driver fast-path must step
    // aside (not NPE on a null cast) and the distributed loop answers
    // with the same string schema
    val strPairs = Seq(("b", "c"), ("a", "b")).toDF("doc1", "doc2")
    val gotStr = NearDedup.connectedComponents(strPairs)
    assert(gotStr.schema.map(_.dataType).distinct ==
      Seq(org.apache.spark.sql.types.StringType))
    assert(gotStr.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("connected components: a caller-persisted pair list stays cached; an unpersisted one leaves no cache entry") {
    val s = spark
    import s.implicits._
    val none = org.apache.spark.storage.StorageLevel.NONE
    def projection(pairs: org.apache.spark.sql.DataFrame) =
      pairs.select(col("doc1").as("a"), col("doc2").as("b"))
    // driverEdgeLimit = 0 takes the distributed loop, the default the
    // driver union-find path
    for (limit <- Seq(100000, 0)) {
      val owned = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc1", "doc2").persist()
      try {
        val got = NearDedup.connectedComponents(owned, driverEdgeLimit = limit,
          callerPersisted = true).collect()
        assert(got.length == 5)
        assert(owned.storageLevel != none, s"limit=$limit: the caller's cache entry was evicted")
      } finally owned.unpersist(true)
      val plain = Seq((41L, 42L), (42L, 43L)).toDF("doc1", "doc2")
      assert(NearDedup.connectedComponents(plain, driverEdgeLimit = limit).collect().length == 3)
      assert(projection(plain).storageLevel == none,
        s"limit=$limit: the internal persist of an unpersisted pair list leaked")
      assert(plain.storageLevel == none)
    }
  }

  test("dedup_apply ≡ corpus minus non-canonical cluster members; exactly one survivor per cluster") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val all = graft.Tables(s, dir).documents.select("doc_id").as[Long].collect().toSet
    val clusters = NearDedup.queries("dedup_cluster")(s, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val nonCanonical = clusters.collect { case (d, c) if d != c => d }.toSet
    val survivors = NearDedup.queries("dedup_apply")(s, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == all -- nonCanonical)
    // each cluster's canonical member survived
    val canonicals = clusters.map(_._2).toSet
    assert(canonicals.subsetOf(survivors))
  }

  test("mine_positives: pairs re-derive from the cluster labels, capped at 4 per cluster, anchor is canonical") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val labels = NearDedup.queries("dedup_cluster")(s, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val expected = labels.filter { case (d, c) => d != c }
      .groupBy(_._2).toSeq.flatMap { case (c, members) =>
        members.map(_._1).sorted.take(4).zipWithIndex
          .map { case (d, i) => (c, d, i + 1L) }
      }.toSet
    val got = NearDedup.queries("mine_positives")(s, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
    assert(got.nonEmpty, "fixture must yield at least one positive pair")
    // the cap must actually bite somewhere OR no cluster exceeds 5
    val bigCluster = labels.groupBy(_._2).values.exists(_.size > 5)
    if (bigCluster)
      assert(got.groupBy(_._1).values.exists(_.size == 4), "cap never bit")
  }

  test("dedup_apply_priority: keeper is the (source-priority, doc_id)-minimal member, not the min id") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    // independent re-derivation: expected keeper per cluster from the
    // labels + the raw source column, folded in plain Scala
    val srcOf = graft.Tables(s, dir).documents
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    def prio(src: String): Int = "(\\d+)$".r.findFirstIn(src).get.toInt
    val labels = NearDedup.queries("dedup_cluster")(s, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val expectedDropped = labels.groupBy(_._2).values.flatMap { members =>
      val ids = members.map(_._1)
      val keeper = ids.minBy(d => (prio(srcOf(d)), d))
      ids.filterNot(_ == keeper)
    }.toSet
    val all = srcOf.keySet
    val survivors = NearDedup.queries("dedup_apply_priority")(s, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == all -- expectedDropped)
    // exactly one survivor per cluster
    val byCluster = labels.groupBy(_._2).view
      .mapValues(_.map(_._1).count(survivors.contains)).toMap
    assert(byCluster.values.forall(_ == 1), byCluster.filter(_._2 != 1))
  }

  test("dedup_apply_priority: planted cross-source cluster keeps the preferred source's LARGER id") {
    val s = spark
    import s.implicits._
    // doc 1 (src5) and doc 2 (src2) are exact dups: priority picks 2,
    // plain dedup_apply picks min-id 1 — the behaviors must diverge
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("prio_fixture").toString
    Seq(
      (1L, dup, "en", "src5", dup.length.toLong),
      (2L, dup, "en", "src2", dup.length.toLong),
      (3L, "totally unrelated content nothing shared here with anyone else", "en", "src9", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val prioKeep = NearDedup.queries("dedup_apply_priority")(s, dir)
      .select("doc_id").as[Long].collect().toSet
    val minKeep = NearDedup.queries("dedup_apply")(s, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(prioKeep == Set(2L, 3L), s"priority keeper wrong: $prioKeep")
    assert(minKeep == Set(1L, 3L), s"min-id keeper wrong: $minKeep")
  }

  test("incremental admission: state dups rejected, chains through the batch rejected, fresh admitted, idempotent") {
    val s = spark
    import s.implicits._
    // corpus state: two distinct docs (pre-admitted through an empty state)
    val corpusDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val corpus = NearDedup.banded(NearDedup.shingleArrays(corpusDocs))
    val state = NearDedup.admitBatch(corpus, corpus.limit(0))
    assert(state.select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "distinct corpus docs all survive the bootstrap")
    // batch: 11 = doc 1 plus a 4-token tail (jacc 8/12 — dup of state,
    // reject); 12 = doc 1's last 6 words + the same tail (jacc 8/12 with
    // 11 but only 4/12 with 1 — bridges THROUGH 11 → reject); 13/14 =
    // within-batch clones (keep 13); 15 = fresh (admit)
    val batchDocs = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa tau upsilon phi chi"),
      (12L, "epsilon zeta eta theta iota kappa tau upsilon phi chi"),
      (13L, "red orange yellow green blue indigo violet white black grey"),
      (14L, "red orange yellow green blue indigo violet white black grey"),
      (15L, "completely fresh content with nothing shared at all here now")).toDF("doc_id", "text")
    val batch = NearDedup.banded(NearDedup.shingleArrays(batchDocs))
    val admitted = NearDedup.admitBatch(batch, state)
    val ids = admitted.select("doc_id").as[Long].collect().toSet
    // 12 must bridge through 11: verify the planted jaccard structure
    val arrs = NearDedup.shingleArrays(corpusDocs.unionByName(batchDocs))
    val j = NearDedup.jaccard(
        Seq((1L, 11L), (1L, 12L), (11L, 12L)).toDF("doc1", "doc2"), arrs)
      .collect().map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")) -> r.getAs[Double]("jacc")).toMap
    assert(j((1L, 11L)) >= 0.5 && j((1L, 12L)) < 0.5 && j((11L, 12L)) >= 0.5,
      s"planted chain broken: $j — fix the fixture texts")
    assert(ids == Set(13L, 15L), s"got $ids")
    // renumbered replay against the grown state admits NOTHING: 21 ~
    // state 1; 22 re-bridges through 21 in the same batch; 23/24 ~ state
    // 13; 25 ~ state 15. Ids renumbered (state/batch ids are disjoint by
    // contract).
    val state2 = state.unionByName(admitted)
    val replay = NearDedup.banded(NearDedup.shingleArrays(
      batchDocs.select((col("doc_id") + 10).as("doc_id"), col("text"))))
    val again = NearDedup.admitBatch(replay, state2)
    assert(again.select("doc_id").as[Long].collect().isEmpty)
    // …but 12's text arriving ALONE in a later batch IS admitted: its
    // only near-dup links were to REJECTED docs, which the state never
    // holds — the documented streaming-dedup divergence (rejected docs
    // don't suppress future arrivals; a global re-cluster would bridge).
    val lone = NearDedup.banded(NearDedup.shingleArrays(
      Seq((31L, "epsilon zeta eta theta iota kappa tau upsilon phi chi"))
        .toDF("doc_id", "text")))
    val admitted3 = NearDedup.admitBatch(lone, state2)
    assert(admitted3.select("doc_id").as[Long].collect().toSet == Set(31L))
  }

  test("admitBatch cache hygiene: every internal persist released on both paths, only the result checkpoint survives") {
    val s = spark
    import s.implicits._
    // unpersist() is non-blocking, and OTHER suites' releases on the
    // shared session may still be draining — so compare against the ids
    // GAINED since this test started (set difference ignores concurrent
    // removals of pre-existing entries), RESTRICTED to RDDs whose
    // creation site is NearDedup.scala (RDD.toString embeds the
    // callsite), so a concurrent suite persisting unrelated data on the
    // shared session can't inflate the count. Poll for the gained set to
    // drain to the expected survivors.
    val before = s.sparkContext.getPersistentRDDs.keySet
    def awaitGained(expected: Int, hint: String): Unit = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def gained = s.sparkContext.getPersistentRDDs
        .filter { case (id, rdd) =>
          !before.contains(id) && rdd.toString.contains("NearDedup.scala")
        }.size
      var n = gained
      while (n != expected && System.nanoTime() < deadline) {
        Thread.sleep(50); n = gained
      }
      assert(n == expected, s"$hint: gained $n persistent RDDs, expected $expected — " +
        "an internal persist (newBanded/state/bucketed/dupEdges) leaked")
    }
    // same planted shape as the admission test: one state dup, one
    // within-batch clone pair, one fresh doc — exercises the FULL
    // non-empty-edge path (bucket agg, Jaccard verify, CC, verdicts)
    val corpusDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val state = {
      val c = NearDedup.banded(NearDedup.shingleArrays(corpusDocs))
      NearDedup.admitBatch(c, c.limit(0))
    }
    // each admitBatch call may retain ONLY its localCheckpoint'd result
    awaitGained(1, "after bootstrap")
    val batch = NearDedup.banded(NearDedup.shingleArrays(Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa tau upsilon phi chi"),
      (13L, "red orange yellow green blue indigo violet white black grey"),
      (14L, "red orange yellow green blue indigo violet white black grey"),
      (15L, "completely fresh content with nothing shared at all here now"))
      .toDF("doc_id", "text")))
    val admitted = NearDedup.admitBatch(batch, state)
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(13L, 15L))
    awaitGained(2, "after non-empty-edge admission")
    // clean disjoint batch → empty-edge fast path (early return) must
    // release its caches too
    val clean = NearDedup.banded(NearDedup.shingleArrays(
      Seq((41L, "wholly unrelated vocabulary occupying its own lexical island"))
        .toDF("doc_id", "text")))
    val admitted3 = NearDedup.admitBatch(clean, state)
    assert(admitted3.select("doc_id").as[Long].collect().toSet == Set(41L))
    awaitGained(3, "after fast-path admission")
  }

  test("streaming corpus dedup: state accumulates survivors across batches and restarts, replay-safe") {
    val s = spark
    import s.implicits._
    val in = java.nio.file.Files.createTempDirectory("as-in")
    val state = java.nio.file.Files.createTempDirectory("as-st").resolve("t").toString
    val chk = java.nio.file.Files.createTempDirectory("as-chk").toString
    def line(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val feed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in.toString)
      NearDedup.admitStream(feed, state, chk).awaitTermination()
    }
    // batch 1: two distinct docs + one in-batch clone (keep min id)
    java.nio.file.Files.write(in.resolve("a-0.json"), String.join("\n",
      line(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      line(2, "one two three four five six seven eight nine ten"),
      line(3, "one two three four five six seven eight nine ten")).getBytes)
    run()
    def stateIds = s.read.parquet(state).select("doc_id").as[Long].collect().toSet
    assert(stateIds == Set(1L, 2L))
    // batch 2 (restart, same checkpoint): a REDELIVERED doc 2 (id guard),
    // a clone of state doc 1 (rejected by admission), and a fresh doc
    java.nio.file.Files.write(in.resolve("b-0.json"), String.join("\n",
      line(2, "one two three four five six seven eight nine ten"),
      line(4, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      line(5, "totally new content that matches nothing else in the corpus")).getBytes)
    run()
    assert(stateIds == Set(1L, 2L, 5L))
    // the state rows are banded signatures usable directly by admitBatch
    val cols = s.read.parquet(state).columns.toSet
    assert(Set("doc_id", "sh", "band_0", "band_3").subsetOf(cols), cols.toString)
  }

  test("simhash Hamming blocking finds EXACTLY the brute-force distance<=3 pairs (pigeonhole recall 1.0)") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val sigs = NearDedup.simhash(
        NearDedup.shingleArrays(graft.Tables(s, dir).documents), bits = 64)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("sim_sig"))
    def dist(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val brute = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      (d1, s1) = sigs(i); (d2, s2) = sigs(j)
      if dist(s1, s2) <= 3
    } yield (math.min(d1, d2), math.max(d1, d2))).toSet
    val blocked = NearDedup.queries("dedup_simhash_pairs")(s, dir)
      .collect().map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    assert(blocked == brute,
      s"missing: ${brute.diff(blocked)}, extra: ${blocked.diff(brute)}")
  }

  test("pathological LSH bucket is capped: bounded candidate output") {
    val s = spark
    import s.implicits._
    // 60 identical docs = one mega-bucket in EVERY band (same signature
    // everywhere), plus 2 distinct near-dup docs that must survive.
    val boiler = (1L to 60L).map(i => (i, "the same boilerplate text repeated " * 3))
    val pairDocs = Seq(
      (1001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1002L, "alpha beta gamma delta epsilon zeta eta iota"))
    val docs = (boiler ++ pairDocs).toDF("doc_id", "text")
    val arrs = NearDedup.shingleArrays(docs)
    val capped = NearDedup.candidates(NearDedup.banded(arrs), maxBucket = 10)
    val pairs = capped.collect().map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")))
    // the 60-doc bucket would emit 60*59/2 = 1770 pairs; the cap drops it
    assert(!pairs.exists { case (a, b) => a <= 60 && b <= 60 },
      "mega-bucket pairs leaked through the cap")
    // the small genuine bucket is untouched
    assert(pairs.contains((1001L, 1002L)), "capped run lost the genuine near-dup pair")
    // and with the cap above the bucket size, the mega-bucket pairs appear
    val uncapped = NearDedup.candidates(NearDedup.banded(arrs), maxBucket = 100)
    assert(uncapped.count() >= 1770L)
  }

  test("embedding LSH bucket cap bounds output, keeps near-dup pair") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    // 40 identical vectors (one mega-bucket in every table) + one close
    // pair elsewhere in space.
    val v0 = Array.fill(64)(rng.nextFloat() * 2 - 1)
    val base = Array.fill(64)(rng.nextFloat() * 2 - 1)
    val near = base.map(x => x + rng.nextFloat() * 0.01f)
    val rows = (1L to 40L).map(i => (i, v0.clone())) ++ Seq((101L, base), (102L, near))
    val emb = rows.toDF("vec_id", "embedding")
    val capped = VectorOps.embedNearDup(emb, threshold = 0.9, maxBucket = 10)
    val got = capped.collect().map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"))).toSet
    assert(!got.exists { case (a, b) => a <= 40 && b <= 40 })
    assert(got.contains((101L, 102L)), "cap dropped the genuine embedding near-dup")
    val uncapped = VectorOps.embedNearDup(emb, threshold = 0.9, maxBucket = 100)
    assert(uncapped.count() >= (40L * 39 / 2))
  }
}

package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, length}

/** Exactness + recall tests for the vector path (no DuckDB oracle for
  * float-order-sensitive results — SURVEY.md §2.12): brute-force top-k is
  * checked against an independent in-JVM computation; LSH ANN is graded
  * by recall against the brute-force truth.
  */
class SimilaritySpec extends SparkSpec {

  private lazy val vecs: Map[Long, Array[Float]] =
    Tables(spark, sf("sf0.001")).embeddings
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .toMap

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  private def truth(q: Long, k: Int): Seq[Long] =
    vecs
      .collect { case (id, v) if id != q => (id, cosine(vecs(q), v)) }
      .toSeq
      .sortBy { case (id, c) => (-c, id) }
      .take(k)
      .map(_._1)

  test("brute-force sim_topk matches independent exact computation") {
    val got = VectorOps
      .simTopK(Tables(spark, sf("sf0.001")).embeddings, queryIds = 0L until 4L, k = 10)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) => q -> rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("c_id")).toSeq }
    (0L until 4L).foreach { q =>
      assert(got(q) == truth(q, 10), s"query $q")
    }
  }

  test("mine_negatives: exact in-JVM parity, every negative cross-label, filter non-vacuous") {
    val dir = sf("sf0.001")
    val labels: Map[Long, Int] = Tables(spark, dir).embeddings
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = graft.SparkEntry.queries("mine_negatives")(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("q_label"),
        r.getAs[Long]("rank"), r.getAs[Long]("c_id"), r.getAs[Long]("c_label")))
    assert(rows.nonEmpty)
    // the contract: every mined negative is cross-label, labels correct
    rows.foreach { case (q, ql, _, c, cl) =>
      assert(ql != cl, s"query $q mined a SAME-label candidate $c")
      assert(ql == labels(q) && cl == labels(c), "carried labels must match the corpus")
    }
    // exact parity with an independent label-filtered brute force
    def negTruth(q: Long, k: Int): Seq[Long] =
      vecs.collect { case (id, v) if id != q && labels(id) != labels(q) =>
          (id, cosine(vecs(q), v)) }
        .toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    val byQ = rows.groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._3).map(_._4).toSeq }
    (0L until 8L).foreach { q =>
      assert(byQ(q) == negTruth(q, 10), s"query $q diverged from label-filtered truth")
    }
    // non-vacuity: for at least one query the UNfiltered top-10 contains
    // a same-label candidate — the label predicate actually bites
    val bites = (0L until 8L).exists(q => truth(q, 10).exists(labels(_) == labels(q)))
    assert(bites, "fixture never puts a same-label candidate in the plain top-10 — filter untested")
  }

  test("knn_classify: predictions equal the in-JVM majority vote of the brute top-10; both outcomes occur") {
    val dir = sf("sf0.001")
    val labels: Map[Long, Int] = Tables(spark, dir).embeddings
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = graft.SparkEntry.queries("knn_classify")(spark, dir).collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("q_label"), r.getAs[Long]("pred_label"),
          r.getAs[Long]("votes"), r.getAs[Boolean]("correct")))).toMap
    val qids = vecs.keys.filter(_ < 64).toSeq.sorted
    assert(got.keySet == qids.toSet && qids.nonEmpty)
    qids.foreach { q =>
      // independent re-derivation: brute top-10 by (cos desc, id),
      // majority vote, ties to the smaller label
      val top = truth(q, 10)
      val vote = top.groupBy(labels(_)).map { case (l, m) => (l, m.size) }
        .toSeq.sortBy { case (l, n) => (-n, l) }.head
      val (ql, pl, v, ok) = got(q)
      assert(ql == labels(q), s"query $q carried label")
      assert(pl == vote._1 && v == vote._2, s"query $q vote: got ($pl,$v) want $vote")
      assert(ok == (pl == ql), s"query $q correct flag")
    }
    // the fixture's labels are UNcorrelated with the vectors (random
    // assignment), so chance-level accuracy is the EXPECTED reading —
    // the per-query vote parity above is the contract. Vacuity guard:
    // both outcomes must occur, or the probe distinguishes nothing.
    assert(qids.exists(q => got(q)._4) && qids.exists(q => !got(q)._4),
      "correct/incorrect must both occur on the fixture")
  }

  test("LSH ANN reaches usable recall vs brute force") {
    val k = 10
    val qids = 0L until 8L
    val ann = VectorOps
      .annTopK(Tables(spark, sf("sf0.001")).embeddings, qids, k)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("c_id")).toSet }
    val recalls = qids.map { q =>
      val t = truth(q, k).toSet
      ann.get(q).map(a => (a intersect t).size.toDouble / k).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // h=4 → 16 buckets over 500 vecs: expect well above random (k/n ≈ 0.02)
    assert(mean > 0.3, s"mean recall $mean too low: $recalls")
  }

  test("memoized corpus index paths return exactly the inline results") {
    // the queries layer feeds annTopK/embedNearDup/ivfTopK the memoized
    // per-corpus index (corpusBuckets/ivfAssigned) while the generic API
    // computes the assignment inline; the two must be row-identical —
    // same planes, same centroids, same buckets — or the spec coverage
    // (inline) would diverge from what the driver checks (memoized)
    val emb = Tables(spark, sf("sf0.001")).embeddings
    val dir = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val annInline = VectorOps.annTopK(emb, 0L until 4L, 5)
    val annMemo = VectorOps.annTopK(emb, 0L until 4L, 5,
      index = Some(VectorOps.corpusBuckets(spark, dir, h = 4, tables = 8)))
    assert(rows(annInline) == rows(annMemo))
    val ndInline = VectorOps.embedNearDup(emb, threshold = 0.4)
    val ndMemo = VectorOps.embedNearDup(emb, threshold = 0.4,
      index = Some(VectorOps.corpusBuckets(spark, dir, h = 6, tables = 4)))
    assert(rows(ndInline) == rows(ndMemo))
    val model = VectorOps.ivfModel(emb, cells = 16, datasetKey = dir)
    val ivfInline = VectorOps.ivfTopK(emb, 0L until 4L, 5, model = Some(model))
    val ivfMemo = VectorOps.ivfTopK(emb, 0L until 4L, 5, model = Some(model),
      assignedOpt = Some(VectorOps.ivfAssigned(spark, dir, cells = 16)))
    assert(rows(ivfInline) == rows(ivfMemo))
  }

  test("IVF ANN reaches usable recall vs brute force") {
    val k = 10
    val qids = 0L until 8L
    val ivf = VectorOps
      .ivfTopK(Tables(spark, sf("sf0.001")).embeddings, qids, k)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("c_id")).toSet }
    val recalls = qids.map { q =>
      val t = truth(q, k).toSet
      ivf.get(q).map(a => (a intersect t).size.toDouble / k).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // nprobe=4 of 16 cells: expect well above random (k/n ≈ 0.02)
    assert(mean > 0.3, s"mean IVF recall $mean too low: $recalls")
  }

  // --- PQ (vec_pq / ann_pq) ---

  /** In-JVM PQ reference: unit-normalize, per-subspace nearest centroid. */
  private def pqRef(v: Array[Float], books: Array[Array[Array[Double]]])
      : (Array[Int], Array[Double]) = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    val u = v.map(_.toDouble / n)
    val sub = books(0)(0).length
    val codes = books.zipWithIndex.map { case (cb, j) =>
      var best = 0; var bestD = Double.MaxValue
      cb.indices.foreach { c =>
        var d = 0.0; var i = 0
        while (i < sub) { val t = u(j * sub + i) - cb(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
    (codes, u)
  }

  test("PQ codes: deterministic, in-range, match the in-JVM reference, fidelity bounded") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val books = VectorOps.pqModel(emb, m = 8, ks = 16, datasetKey = dir)
    val q = graft.SparkEntry.queries("vec_pq")
    // codes are dumped as a comma-joined string (driver-safe form);
    // parse back to ints for the reference comparison
    def parse(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"),
       r.getAs[String]("codes").split(",").map(_.toInt).toSeq,
       r.getAs[Double]("recon_cos"))
    val run1 = q(spark, dir).collect().map(parse)
    val run2 = q(spark, dir).collect().map(parse)
    assert(run1.toSeq == run2.toSeq, "codes must be run-deterministic")
    assert(run1.forall(_._2.forall(c => c >= 0 && c < 16)), "code range")
    // every code equals the independent nearest-centroid assignment
    run1.foreach { case (id, codes, _) =>
      val (exp, _) = pqRef(vecs(id), books)
      assert(codes == exp.toSeq, s"vec $id: engine $codes vs reference ${exp.toSeq}")
    }
    // reconstruction fidelity: the in-query self-audit signal is real
    val recon = run1.map(_._3)
    assert(recon.sum / recon.length > 0.6, "mean recon_cos")
    assert(recon.min > 0.4, "min recon_cos")
  }

  test("ADC scores are exactly 1 - ||q_n - recon(c)||^2 / 2 (pure-ADC path)") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val books = VectorOps.pqModel(emb, m = 8, ks = 16, datasetKey = dir)
    val sub = books(0)(0).length
    val adc = VectorOps.pqTopK(emb, 0L until 4L, k = 10, rerank = 1,
      index = Some(VectorOps.pqIndex(spark, dir, m = 8, ks = 16))).collect()
    adc.foreach { r =>
      val (qc, qn) = pqRef(vecs(r.getAs[Long]("q_id")), books)
      val (cc, _) = pqRef(vecs(r.getAs[Long]("c_id")), books)
      var d = 0.0
      books.indices.foreach { j =>
        var i = 0
        while (i < sub) {
          val t = qn(j * sub + i) - books(j)(cc(j))(i); d += t * t; i += 1
        }
      }
      val expected = 1.0 - d / 2
      assert(math.abs(r.getAs[Double]("cos") - expected) < 1e-9,
        s"(${r.getAs[Long]("q_id")},${r.getAs[Long]("c_id")})")
      assert(qc != null) // qn used above; silence unused warning paths
    }
  }

  test("PQ ANN reaches usable recall; exact re-rank dominates pure ADC") {
    val k = 10
    val qids = 0L until 8L
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val idx = Some(VectorOps.pqIndex(spark, dir, m = 8, ks = 16))
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("c_id")).toSet }
      qids.map { q =>
        got.get(q).map(a => (a intersect truth(q, k).toSet).size.toDouble / k)
          .getOrElse(0.0)
      }.sum / qids.size
    }
    val pure = recallOf(VectorOps.pqTopK(emb, qids, k, rerank = 1, index = idx))
    val rr = recallOf(VectorOps.pqTopK(emb, qids, k, rerank = 4, index = idx))
    // 4-bit × 8-subspace codes on near-orthogonal random vectors — the
    // adversarial case for any quantizer; still well above random 0.02
    assert(pure > 0.25, s"pure ADC recall $pure")
    assert(rr >= pure, s"re-rank $rr must not lose to pure ADC $pure")
    assert(rr > 0.5, s"re-ranked recall $rr")
    // re-ranked scores are TRUE cosines (the shortlist join re-reads vectors)
    VectorOps.pqTopK(emb, 0L until 2L, k, rerank = 4, index = idx)
      .collect().foreach { r =>
        val exp = cosine(vecs(r.getAs[Long]("q_id")), vecs(r.getAs[Long]("c_id")))
        assert(math.abs(r.getAs[Double]("cos") - exp) < 1e-12)
      }
  }

  test("PQ codebooks train once per dataset, not per query") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val m1 = VectorOps.pqModel(emb, m = 8, ks = 16, datasetKey = dir)
    val before = VectorOps.pqTrainCount.get()
    val m2 = VectorOps.pqModel(emb, m = 8, ks = 16, datasetKey = dir)
    assert(m2 eq m1, "second lookup must reuse the trained codebooks")
    assert(VectorOps.pqTrainCount.get() == before, "no re-training on cache hit")
    val q = graft.SparkEntry.queries("ann_pq")
    q(spark, dir).collect()
    val afterFirst = VectorOps.pqTrainCount.get()
    q(spark, dir).collect()
    assert(VectorOps.pqTrainCount.get() == afterFirst,
      "ann_pq must not retrain on a repeated run over the same dataset")
  }

  test("IVF quantizer trains once per dataset, not per query") {
    val emb = Tables(spark, sf("sf0.001")).embeddings
    val m1 = VectorOps.ivfModel(emb, cells = 16, datasetKey = sf("sf0.001"))
    val before = VectorOps.trainCount.get()
    val m2 = VectorOps.ivfModel(emb, cells = 16, datasetKey = sf("sf0.001"))
    assert(m2 eq m1, "second lookup must reuse the trained model instance")
    assert(VectorOps.trainCount.get() == before, "no re-training on cache hit")
    // and two query invocations through the public id share the model
    val q = graft.SparkEntry.queries("ann_ivf")
    q(spark, sf("sf0.001")).collect()
    val afterFirst = VectorOps.trainCount.get()
    q(spark, sf("sf0.001")).collect()
    assert(VectorOps.trainCount.get() == afterFirst,
      "ann_ivf must not retrain on a repeated run over the same dataset")
  }

  // --- IVF-PQ (ann_ivfpq): the composed index ---

  /** In-JVM IVF-PQ reference: unit-normalize, nearest coarse centroid,
    * per-subspace nearest residual centroid.
    */
  private def ivfPqRef(v: Array[Float], model: VectorOps.IvfPqModel)
      : (Int, Array[Int], Array[Double]) = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    val u = v.map(_.toDouble / n)
    var cell = 0; var cellD = Double.MaxValue
    model.coarse.indices.foreach { c =>
      var d = 0.0; var i = 0
      while (i < u.length) { val t = u(i) - model.coarse(c)(i); d += t * t; i += 1 }
      if (d < cellD) { cellD = d; cell = c }
    }
    val cc = model.coarse(cell)
    val res = Array.tabulate(u.length)(i => u(i) - cc(i))
    val sub = model.books(0)(0).length
    val codes = model.books.zipWithIndex.map { case (cb, j) =>
      var best = 0; var bestD = Double.MaxValue
      cb.indices.foreach { c =>
        var d = 0.0; var i = 0
        while (i < sub) { val t = res(j * sub + i) - cb(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
    (cell, codes, u)
  }

  test("IVF-PQ codes: cell + residual codes match the in-JVM reference") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val model = VectorOps.ivfPqModel(emb, cells = 16, m = 8, ks = 16,
      datasetKey = dir)
    val got = VectorOps.withIvfPqCodes(emb, "embedding", model)
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Int]]("codes").toSeq))
    assert(got.length == vecs.size)
    got.foreach { case (id, cell, codes) =>
      val (expCell, expCodes, _) = ivfPqRef(vecs(id), model)
      assert(cell == expCell, s"vec $id cell")
      assert(codes == expCodes.toSeq, s"vec $id codes")
      assert(codes.forall(c => c >= 0 && c < 16), s"vec $id code range")
    }
  }

  test("IVF-PQ pure ADC: candidates only from probed cells; scores are exact ADC algebra") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val idx = VectorOps.ivfPqIndex(spark, dir, cells = 16, m = 8, ks = 16)
    val model = idx.model
    val sub = model.books(0)(0).length
    val nprobe = 2
    val adc = VectorOps.ivfPqTopK(emb, 0L until 4L, k = 10, nprobe = nprobe,
      rerank = 1, index = Some(idx)).collect()
    assert(adc.nonEmpty)
    adc.foreach { r =>
      val q = r.getAs[Long]("q_id"); val c = r.getAs[Long]("c_id")
      val (_, _, qu) = ivfPqRef(vecs(q), model)
      // probed-cell pruning: the candidate's cell must be among the
      // query's nprobe nearest coarse cells (ties toward lower id)
      val probed = model.coarse.zipWithIndex.map { case (cc, i) =>
        var d = 0.0; var t = 0
        while (t < qu.length) { val x = qu(t) - cc(t); d += x * x; t += 1 }
        (d, i)
      }.sortBy(identity).take(nprobe).map(_._2).toSet
      val (cCell, cCodes, _) = ivfPqRef(vecs(c), model)
      assert(probed.contains(cCell), s"($q,$c): cell $cCell not probed $probed")
      // ADC score = 1 - ||q_u - (coarse(cell) + recon_res(codes))||^2 / 2
      val cc = model.coarse(cCell)
      var d = 0.0
      model.books.indices.foreach { j =>
        var i = 0
        while (i < sub) {
          val t = qu(j * sub + i) - cc(j * sub + i) - model.books(j)(cCodes(j))(i)
          d += t * t; i += 1
        }
      }
      assert(math.abs(r.getAs[Double]("cos") - (1.0 - d / 2)) < 1e-9, s"($q,$c)")
    }
  }

  test("IVF-PQ recall: re-rank dominates pure ADC; residual codes beat raw-PQ fidelity") {
    val k = 10
    val qids = 0L until 8L
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val idx = Some(VectorOps.ivfPqIndex(spark, dir, cells = 16, m = 8, ks = 16))
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("c_id")).toSet }
      qids.map { q =>
        got.get(q).map(a => (a intersect truth(q, k).toSet).size.toDouble / k)
          .getOrElse(0.0)
      }.sum / qids.size
    }
    val pure = recallOf(VectorOps.ivfPqTopK(emb, qids, k, rerank = 1, index = idx))
    val rr = recallOf(VectorOps.ivfPqTopK(emb, qids, k, rerank = 4, index = idx))
    // measured at sf0.001 (BASELINE.md "Round 14 (cont.): IVF-PQ composed
    // index"): pure 0.45, re-ranked 0.775 —
    // bounds leave margin but stay far above random (k/n ≈ 0.02)
    assert(pure > 0.3, s"pure ADC recall $pure")
    assert(rr >= pure, s"re-rank $rr must not lose to pure ADC $pure")
    assert(rr > 0.6, s"re-ranked recall $rr")
    // re-ranked scores are TRUE cosines (shortlist join re-reads vectors)
    VectorOps.ivfPqTopK(emb, 0L until 2L, k, rerank = 4, index = idx)
      .collect().foreach { r =>
        val exp = cosine(vecs(r.getAs[Long]("q_id")), vecs(r.getAs[Long]("c_id")))
        assert(math.abs(r.getAs[Double]("cos") - exp) < 1e-12)
      }
    // the reason residual-PQ exists (Jégou et al. 2011 §V): under the
    // SAME 8×4-bit budget, coding residuals reconstructs strictly better
    // than coding raw unit vectors — deterministic training makes this
    // a stable structural assertion, not a flaky benchmark
    // (measured: residual mean recon_cos 0.7204 vs raw-PQ 0.6764)
    val model = idx.get.model
    val rawBooks = VectorOps.pqModel(emb, m = 8, ks = 16, datasetKey = dir)
    val sub = model.books(0)(0).length
    val (resF, rawF) = vecs.values.map { v =>
      val (cell, codes, u) = ivfPqRef(v, model)
      val cc = model.coarse(cell)
      val recon1 = Array.tabulate(u.length) { i =>
        cc(i) + model.books(i / sub)(codes(i / sub))(i % sub)
      }
      val (rawCodes, _) = pqRef(v, rawBooks)
      val recon2 = Array.tabulate(u.length) { i =>
        rawBooks(i / sub)(rawCodes(i / sub))(i % sub)
      }
      def cosTo(r: Array[Double]): Double = {
        var dot = 0.0; var nr = 0.0; var i = 0
        while (i < u.length) { dot += u(i) * r(i); nr += r(i) * r(i); i += 1 }
        dot / math.sqrt(nr)
      }
      (cosTo(recon1), cosTo(recon2))
    }.unzip
    val resMean = resF.sum / resF.size
    val rawMean = rawF.sum / rawF.size
    assert(resMean > rawMean,
      f"residual-PQ recon $resMean%.4f must beat raw-PQ $rawMean%.4f")
    assert(resMean > 0.65, f"residual recon fidelity $resMean%.4f")
  }

  test("IVF-PQ model trains once per dataset, not per query") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val m1 = VectorOps.ivfPqModel(emb, cells = 16, m = 8, ks = 16, datasetKey = dir)
    val before = VectorOps.ivfPqTrainCount.get()
    val m2 = VectorOps.ivfPqModel(emb, cells = 16, m = 8, ks = 16, datasetKey = dir)
    assert(m2 eq m1, "second lookup must reuse the trained model instance")
    assert(VectorOps.ivfPqTrainCount.get() == before, "no re-training on cache hit")
    val q = graft.SparkEntry.queries("ann_ivfpq")
    q(spark, dir).collect()
    val afterFirst = VectorOps.ivfPqTrainCount.get()
    q(spark, dir).collect()
    assert(VectorOps.ivfPqTrainCount.get() == afterFirst,
      "ann_ivfpq must not retrain on a repeated run over the same dataset")
  }

  test("persisted IVF-PQ index: model round-trips bit-exact, disk serving equals in-memory, scan prunes to probed cells") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val path = VectorOps.ivfPqDiskPath(spark, dir, cells = 16, m = 8, ks = 16)
    // parquet doubles round-trip bit-exact: loaded model == trained model
    val trained = VectorOps.ivfPqModel(emb, cells = 16, m = 8, ks = 16,
      datasetKey = dir)
    val loaded = VectorOps.loadIvfPqModel(spark, path)
    assert(loaded.coarse.map(_.toSeq).toSeq == trained.coarse.map(_.toSeq).toSeq)
    assert(loaded.books.map(_.map(_.toSeq).toSeq).toSeq ==
      trained.books.map(_.map(_.toSeq).toSeq).toSeq)
    // disk serving returns exactly the in-memory rows (same model, same
    // LUTs, same ADC, same re-rank)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val mem = VectorOps.ivfPqTopK(emb, 0L until 8L, k = 10,
      index = Some(VectorOps.ivfPqIndex(spark, dir, cells = 16, m = 8, ks = 16)))
    val disk = VectorOps.ivfPqTopKDisk(emb, 0L until 8L, k = 10, path = path)
    assert(rows(mem) == rows(disk))
    // partition pruning: the cell filter must land in the code scan's
    // PartitionFilters (applied at file LISTING — zero bytes read
    // outside probed directories), not merely in post-scan DataFilters.
    // df.inputFiles can't show this (it lists the whole relation), so
    // assert on the FileSourceScanExec's own metadata.
    val diskPlan = VectorOps.ivfPqTopKDisk(emb, 0L until 2L, k = 10,
      path = path, rerank = 1).queryExecution.sparkPlan
    val codeScan = diskPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("codes")) => f
    }
    assert(codeScan.nonEmpty, s"no codes FileSourceScan in:\n$diskPlan")
    val partFilters = codeScan.head.metadata.getOrElse("PartitionFilters", "")
    assert(partFilters.contains("cell") && partFilters.contains("IN"),
      s"cell IN (...) must be a PARTITION filter, got: $partFilters")
    // a second save over the committed artifact is a no-op (marker wins)
    val builds = VectorOps.ivfPqSaveCount.get()
    VectorOps.saveIvfPqIndex(spark, dir, path)
    assert(VectorOps.ivfPqSaveCount.get() == builds,
      "re-save over a committed index must not rebuild")
  }

  test("IVF-PQ append: new vectors serve without retrain; existing files untouched") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val path = java.nio.file.Files.createTempDirectory("ivfpq_append")
      .toString + "/idx"
    VectorOps.saveIvfPqIndexOf(emb, path, datasetKey = s"$dir#appendspec")
    def codeFiles: Set[String] = {
      val base = new java.io.File(s"$path/codes")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(base).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val before = codeFiles
    // the serving corpus view includes appended vectors (re-rank re-reads
    // candidate vectors from it — an index entry with no corpus row is
    // dropped at the re-rank join, by design)
    val twins = emb.withColumn("vec_id",
      col("vec_id") + org.apache.spark.sql.functions.lit(100000L))
    val full = emb.unionByName(twins)
    // pre-append: no twin ids exist in the index
    val pre = VectorOps.ivfPqTopKDisk(full, 0L until 4L, k = 10, path = path)
      .collect()
    assert(pre.forall(_.getAs[Long]("c_id") < 100000L))
    // append the SAME vectors under shifted ids — encoded against the
    // stored model, no retrain
    VectorOps.appendIvfPqIndex(twins, path)
    // the appended twin of each query is an identical vector: it must
    // now be rank-1 with an exact cosine of 1 (re-rank emits true cos)
    val post = VectorOps.ivfPqTopKDisk(full, 0L until 4L, k = 10, path = path)
      .collect().groupBy(_.getAs[Long]("q_id"))
    (0L until 4L).foreach { q =>
      val top = post(q).minBy(_.getAs[Long]("rank"))
      assert(top.getAs[Long]("c_id") == q + 100000L,
        s"query $q top: ${top.getAs[Long]("c_id")}")
      assert(math.abs(top.getAs[Double]("cos") - 1.0) < 1e-12)
    }
    // append added files; it rewrote or deleted NOTHING (readers of the
    // live index stay consistent through the append)
    val after = codeFiles
    assert(before.subsetOf(after), "append must not rewrite existing files")
    assert(after.size > before.size, "append must add files")
  }

  test("ann_ivfpq_append id: odd half served from an even-trained index, runs deterministic") {
    val dir = sf("sf0.001")
    val q = graft.SparkEntry.queries("ann_ivfpq_append")
    val run1 = q(spark, dir).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val run2 = q(spark, dir).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(run1 == run2, "repeated runs must not re-append or drift")
    // the model never saw an odd vector; odd candidates in the results
    // prove the append path end to end (and evens prove the base build)
    // row layout is (q_id, rank, c_id, cos) — c_id at index 2
    val parities = run1.map(r => r(2).asInstanceOf[Long] % 2).toSet
    assert(parities == Set(0L, 1L), s"expected both parities, got $parities")
  }

  test("IVF-PQ delete: tombstoned ids never served; compaction folds them physically and clears the tombstones") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val path = java.nio.file.Files.createTempDirectory("ivfpq_delete")
      .toString + "/idx"
    VectorOps.saveIvfPqIndexOf(emb, path, datasetKey = s"$dir#deletespec")
    def rows() = VectorOps.ivfPqTopKDisk(emb, 0L until 4L, k = 10, path = path)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val before = rows()
    assert(before.exists(_(2).asInstanceOf[Long] % 2 == 1),
      "fixture must serve some odd candidate pre-delete (else the test is vacuous)")
    VectorOps.deleteFromIvfPqIndex(
      emb.filter(col("vec_id") % 2 === 1).select(col("vec_id").as("c_id")), path)
    val served = rows()
    assert(served.forall(_(2).asInstanceOf[Long] % 2 == 0),
      "tombstoned ids must never be served")
    assert(served != before, "delete must actually change the result set")
    // deletes are idempotent: a second identical tombstone batch is a no-op
    VectorOps.deleteFromIvfPqIndex(
      emb.filter(col("vec_id") % 2 === 1).select(col("vec_id").as("c_id")), path)
    assert(rows() == served)
    // compaction folds the tombstones into the new generation...
    VectorOps.compactIvfPqIndex(spark, path)
    assert(rows() == served, "compaction must not change served results")
    val gen1 = spark.read.parquet(s"$path/codes-00000001")
    assert(gen1.filter(col("c_id") % 2 === 1).count() == 0,
      "folded generation must carry no tombstoned rows")
    // ...and clears exactly the folded tombstone files
    val tombDir = new java.io.File(s"$path/tombstones")
    assert(!tombDir.exists() ||
      tombDir.listFiles().forall(f => !f.getName.startsWith("part-")),
      "folded tombstone files must be cleared after the pointer swap")
    assert(rows() == served, "post-clear serving must still exclude deleted ids")
  }

  test("IVF-PQ compaction: one file per cell, atomic generation pointer, GC, results invariant") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val path = java.nio.file.Files.createTempDirectory("ivfpq_compact")
      .toString + "/idx"
    VectorOps.saveIvfPqIndexOf(emb, path, datasetKey = s"$dir#compactspec")
    val twins = emb.withColumn("vec_id",
      col("vec_id") + org.apache.spark.sql.functions.lit(200000L))
    val full = emb.unionByName(twins)
    VectorOps.appendIvfPqIndex(twins, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    def search() = rows(VectorOps.ivfPqTopKDisk(full, 0L until 4L, k = 10,
      path = path))
    val before = search()
    def filesPerCell(gen: String): Map[String, Int] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/$gen")).filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getName).map { case (c, fs) => c -> fs.size }
    }
    // base build + append = at least one cell with multiple files (the
    // small-file accretion compaction exists to undo)
    assert(filesPerCell("codes").values.exists(_ > 1))
    VectorOps.compactIvfPqIndex(spark, path)
    // new generation: exactly ONE file per cell; results row-identical
    val post = filesPerCell("codes-00000001")
    assert(post.nonEmpty && post.values.forall(_ == 1), post)
    assert(search() == before, "compaction must not change results")
    // the superseded generation stays for in-flight readers until GC
    assert(new java.io.File(s"$path/codes").isDirectory)
    assert(VectorOps.gcIvfPqIndex(spark, path) == Seq("codes"))
    assert(!new java.io.File(s"$path/codes").exists())
    assert(search() == before, "GC must not touch the live generation")
    // appends land in the LIVE generation; a second identical twin ranks
    // right behind the first (same cos 1.0, id tiebreak)
    val twins2 = emb.withColumn("vec_id",
      col("vec_id") + org.apache.spark.sql.functions.lit(400000L))
    VectorOps.appendIvfPqIndex(twins2, path)
    assert(filesPerCell("codes-00000001").values.exists(_ > 1),
      "append must write into the current generation")
    val top2 = VectorOps
      .ivfPqTopKDisk(full.unionByName(twins2), 0L until 2L, k = 10, path = path)
      .collect().groupBy(_.getAs[Long]("q_id"))
    (0L until 2L).foreach { q =>
      val ids = top2(q).sortBy(_.getAs[Long]("rank")).take(2)
        .map(_.getAs[Long]("c_id")).toSeq
      assert(ids == Seq(q + 200000L, q + 400000L), s"query $q top-2: $ids")
    }
    // second compaction bumps the generation and supersedes the first
    VectorOps.compactIvfPqIndex(spark, path)
    assert(filesPerCell("codes-00000002").values.forall(_ == 1))
    assert(VectorOps.gcIvfPqIndex(spark, path) == Seq("codes-00000001"))
  }

  test("filtered ANN: predicate on every row; all-cells+wide-rerank ≡ label-restricted brute force; pre-filter beats post-filter") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val labels: Map[Long, Int] = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qids = 0L until 8L
    val idx = Some(VectorOps.ivfPqIndex(spark, dir, cells = 16, m = 8,
      ks = 16, attrs = Seq("label")))
    val sameLabel = col("label") === col("q_label")
    val filtered = VectorOps.ivfPqTopKWhere(emb, qids, k = 10,
      where = sameLabel, attrCols = Seq("label"), index = idx).collect()
    // 1. the predicate holds on every emitted row (and never the query)
    assert(filtered.nonEmpty)
    filtered.foreach { r =>
      val q = r.getAs[Long]("q_id"); val c = r.getAs[Long]("c_id")
      assert(c != q, s"query $q returned itself")
      assert(labels(c) == labels(q), s"($q,$c): label mismatch")
    }
    // 2. exactness: probing ALL cells with a shortlist wide enough to
    // cover the whole label class makes the approximate path exact —
    // result must equal the label-restricted brute-force top-k
    val classSize = labels.values.groupBy(identity).values.map(_.size).max
    val all = VectorOps.ivfPqTopKWhere(emb, qids, k = 10, where = sameLabel,
      attrCols = Seq("label"), nprobe = 16, rerank = classSize / 10 + 2,
      index = idx)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("c_id")).toSeq }
    def truthLabel(q: Long, k: Int): Seq[Long] =
      vecs.collect { case (id, v) if id != q && labels(id) == labels(q) =>
        (id, cosine(vecs(q), v)) }
        .toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    qids.foreach(q => assert(all(q) == truthLabel(q, 10), s"query $q"))
    // 3. pre-filter dominates post-filter: filtering the UNfiltered
    // top-k after the fact underfills (label selectivity ~1/10 leaves
    // ~1 qualifying row in 10) — the reason the predicate must sit
    // inside the scan, not after the shortlist
    val unfiltered = VectorOps.ivfPqTopK(emb, qids, k = 10,
      index = Some(VectorOps.ivfPqIndex(spark, dir, cells = 16, m = 8, ks = 16)))
      .collect().groupBy(_.getAs[Long]("q_id"))
    val pre = filtered.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.size).toMap
    val post = qids.map(q => q -> unfiltered(q)
      .count(r => labels(r.getAs[Long]("c_id")) == labels(q))).toMap
    qids.foreach(q => assert(pre.getOrElse(q, 0) >= post(q), s"query $q"))
    assert(qids.map(q => pre.getOrElse(q, 0)).sum > qids.map(post).sum,
      s"pre-filter must strictly beat post-filter on this fixture: $pre vs $post")
    // 4. the DURABLE index serves the same filtered search: attrs
    // persist alongside the codes, the predicate rides the pruned scan,
    // and disk ≡ memory row-for-row
    val path = java.nio.file.Files.createTempDirectory("ivfpq_where")
      .toString + "/idx"
    VectorOps.saveIvfPqIndexOf(emb, path, datasetKey = dir,
      attrs = Seq("label"))
    val disk = VectorOps.ivfPqTopKDisk(emb, qids, k = 10, path = path,
      where = Some(sameLabel), attrCols = Seq("label")).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).toSeq.sortBy(_.toString)
    assert(key(disk) == key(filtered),
      "disk-served filtered search must equal the in-memory path")
    // an attrs-less append against an attrs-carrying index must fail
    // loudly, not land null-attr rows that drop out of every filter
    intercept[IllegalArgumentException] {
      VectorOps.appendIvfPqIndex(
        emb.withColumn("vec_id", col("vec_id") + 900000L), path)
    }
  }

  test("native cosine nulls on a null ELEMENT, like the HOF form") {
    val s = spark
    import s.implicits._
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val df = Seq(
      (Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(1f), Some(2f))),
      (Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(1f), Some(2f))))
      .toDF("a", "b")
    val rows = df.select(
      VectorOps.cosine(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("native"),
      VectorOps.cosineHof(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("hof")).collect()
    assert(!rows(0).isNullAt(0) && rows(0).getDouble(0) == rows(0).getDouble(1))
    assert(rows(1).isNullAt(0),
      "a null element must null the native result, not read as 0.0")
    assert(rows(1).isNullAt(1), "HOF reference must also be null")
  }

  test("native cosine returns null on mismatched lengths, like the HOF form") {
    val s = spark
    import s.implicits._
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val rows = df.select(
      VectorOps.cosine(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("native"),
      VectorOps.cosineHof(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("hof")).collect()
    assert(!rows(0).isNullAt(0) && rows(0).getDouble(0) == rows(0).getDouble(1))
    assert(rows(1).isNullAt(0), "native must be null on length mismatch")
    assert(rows(1).isNullAt(1), "HOF reference must be null on length mismatch")
  }

  test("real image decode: PNG payloads round-trip through javax.imageio, batch-invariant") {
    val s = spark
    import s.implicits._
    val docs = Tables(s, sf("sf0.001")).documents
    val media = Multimodal.encodeImages(docs).collect()
    assert(media.length == 500)
    // payloads are genuine PNGs (magic bytes), not hash-derived fakes
    val pngMagic = Array(0x89, 0x50, 0x4e, 0x47).map(_.toByte)
    assert(media.forall(_.payload.take(4).sameElements(pngMagic)))
    val m1 = Multimodal.decodeImages(Multimodal.encodeImages(docs))
      .collect().sortBy(_.doc_id)
    val m2 = Multimodal.decodeImages(Multimodal.encodeImages(docs, batchSize = 7), batchSize = 5)
      .collect().sortBy(_.doc_id)
    assert(m1.length == 500)
    assert(m1.toSeq == m2.toSeq, "batch size must not change decoded results")
    assert(m1.forall(m => m.width >= 8 && m.width <= 39 && m.height >= 8 && m.height <= 39))
    assert(m1.forall(m => m.channels == 1 && m.n_pixels == m.width.toLong * m.height))
    // the decoded raster must equal the independently-predicted pixel
    // stream (text bytes cycled row-major) — a real codec check on both
    // the encode and decode sides
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    m1.take(20).foreach { m =>
      val b = texts(m.doc_id).getBytes("UTF-8")
      val expected = Array.tabulate(m.n_pixels.toInt)(i => b(i % b.length))
      val sha = Multimodal.shaOfHex(expected)
      assert(sha == m.pixel_sha, s"doc ${m.doc_id}: decoded raster diverged from source bytes")
    }
  }

  test("real image resize: nearest-neighbor mapping on the decoded raster, aspect preserved") {
    val s = spark
    import s.implicits._
    val docs = Tables(s, sf("sf0.001")).documents
    val r1 = Multimodal.resizeImages(Multimodal.encodeImages(docs))
      .collect().sortBy(_.doc_id)
    assert(r1.length == 500)
    // the max side pins to 16, both dims stay >= 1, aspect order preserved
    r1.foreach { r =>
      assert(math.max(r.out_w, r.out_h) == 16, s"doc ${r.doc_id} max side")
      assert(r.out_w >= 1 && r.out_h >= 1)
      assert((r.src_w >= r.src_h) == (r.out_w >= r.out_h), s"doc ${r.doc_id} aspect flipped")
    }
    // replay the exact integer mapping over the known source bytes
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    r1.take(20).foreach { r =>
      val b = texts(r.doc_id).getBytes("UTF-8")
      val out = Array.tabulate(r.out_w * r.out_h) { i =>
        val srcY = (i / r.out_w) * r.src_h / r.out_h
        val srcX = (i % r.out_w) * r.src_w / r.out_w
        b((srcY * r.src_w + srcX) % b.length)
      }
      val sha = Multimodal.shaOfHex(out)
      assert(sha == r.resized_sha, s"doc ${r.doc_id}: resized raster diverged")
    }
  }

  test("vec_quantize: int8 range, exact extremum, bounded reconstruction error") {
    val s = spark
    import s.implicits._
    val raw = Tables(s, sf("sf0.001")).embeddings
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    // `q` is comma-joined at the query boundary (driver comparator can't
    // sort arrays); the numeric checks run on the parsed int vector.
    val got = graft.SparkEntry.queries("vec_quantize")(s, sf("sf0.001"))
      .select("vec_id", "q").as[(Long, String)].collect()
      .map { case (id, qs) => (id, qs.split(',').toSeq.map(_.toInt)) }
    assert(got.length == raw.size)
    got.foreach { case (id, q) =>
      val x = raw(id)
      val scale = math.max(x.map(v => math.abs(v.toDouble)).max, 1e-30) / 127.0
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id out of int8 range")
      // the max-|x| element must land exactly on ±127 (symmetric scheme)
      assert(q.map(math.abs).max == 127, s"vec $id extremum not pinned")
      // round-half-up quantization error is at most scale/2 per element
      x.zip(q).foreach { case (v, qi) =>
        assert(math.abs(qi * scale - v) <= scale / 2 + 1e-12, s"vec $id error bound")
      }
    }
  }

  test("embed_outliers: 3 per label, ascending centroid-cosine, bounded range") {
    val rows = graft.SparkEntry.queries("embed_outliers")(spark, sf("sf0.001"))
      .collect().map(r => (r.getAs[Int]("label"), r.getAs[Long]("rank"), r.getAs[Double]("cos")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (label, rs) =>
      assert(rs.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L), s"label $label ranks")
      val byRank = rs.sortBy(_._2).map(_._3)
      // rank 1 is the FURTHEST from the centroid (smallest cosine)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b }, s"label $label order")
      assert(rs.forall(r => r._3 >= -1.0 - 1e-9 && r._3 <= 1.0 + 1e-9))
    }
  }

  test("documents fixture is pure ASCII — the mm oracle's char=byte assumption holds") {
    // the mm_meta/mm_features/mm_resize/mm_frames oracles cycle
    // CHARACTERS (len/substring/repeat) while the engine cycles UTF-8
    // BYTES; they coincide only on ASCII text. This pins the documented
    // assumption (round-9 ADVICE) as a checked invariant: if the
    // fixture ever grows non-ASCII text, this fails before the oracle
    // silently diverges.
    Seq("sf0.001", "sf0.01").foreach { d =>
      val nonAscii = Tables(spark, sf(d)).documents
        .filter(length(col("text")) =!=
          length(col("text").cast("binary")).cast("int")).count()
      assert(nonAscii == 0L, s"$d: $nonAscii docs with multi-byte chars")
    }
  }

  test("real audio codec: WAV payloads round-trip through javax.sound, batch-invariant") {
    val docs = Tables(spark, sf("sf0.001")).documents
    val media = Multimodal.encodeAudio(docs)
    // payloads are genuine RIFF/WAVE containers
    val sample = media.take(5)
    sample.foreach { r =>
      assert(r.payload.length > 44, s"doc ${r.doc_id}: payload too small for a WAV")
      assert(new String(r.payload.take(4), "US-ASCII") == "RIFF" &&
        new String(r.payload.slice(8, 12), "US-ASCII") == "WAVE",
        s"doc ${r.doc_id}: not a RIFF/WAVE container")
    }
    val a1 = Multimodal.decodeAudio(media).collect().sortBy(_.doc_id)
    val a2 = Multimodal.decodeAudio(media, batchSize = 7).collect().sortBy(_.doc_id)
    assert(a1.toSeq == a2.toSeq, "batch size must not change the decode result")
    val nonEmpty = docs.filter(length(col("text")) > 0).count()
    assert(a1.length == nonEmpty)
    // ground truth straight from the doc text: PCM = bytes cycled to the
    // md5-seeded sample count; the parsed header must say 8 kHz
    val texts = docs.filter(length(col("text")) > 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    a1.foreach { a =>
      val bytes = texts(a.doc_id).getBytes("UTF-8")
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val n = 256 + ((md(3) & 0xff) % 1024)
      assert(a.sample_rate == 8000 && a.n_samples == n.toLong, s"doc ${a.doc_id}")
      val pcm = Array.tabulate[Byte](n)(i => bytes(i % bytes.length))
      val sha = Multimodal.shaOfHex(pcm)
      assert(a.pcm_sha == sha, s"doc ${a.doc_id}: decoded PCM diverged from ground truth")
      assert(a.peak == pcm.map(_ & 0xff).max)
      assert(a.sum_amp == pcm.map(b => math.abs((b & 0xff) - 128).toLong).sum)
    }
  }

  test("frame sampling: REAL GIF demux+decode, schedule from container metadata, batch-invariant") {
    val docs = Tables(spark, sf("sf0.001")).documents
    val media = Multimodal.encodeAnimations(docs)
    val f1 = Multimodal.sampleFrames(media).collect().sortBy(f => (f.doc_id, f.frame_idx))
    val f2 = Multimodal.sampleFrames(media, batchSize = 7).collect().sortBy(f => (f.doc_id, f.frame_idx))
    val nonEmpty = docs.filter(length(col("text")) > 0).count()
    assert(f1.length == nonEmpty * 4)
    assert(f1.toSeq == f2.toSeq, "batch size must not change the demux result")
    // independent ground truth straight from the doc text: the GIF round
    // trip is exact (indexed gray palette), so decoded frame src's
    // raster must be the doc's bytes cycled from offset src
    val texts = docs.filter(length(col("text")) > 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    f1.groupBy(_.doc_id).foreach { case (id, fs) =>
      val bytes = texts(id).getBytes("UTF-8")
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val w = 8 + (md(0) & 0x1f)
      val h = 8 + (md(1) & 0x1f)
      val nf = 4 + ((md(2) & 0xff) % 5)
      assert(fs.map(_.frame_idx).toSeq.sorted == (0 until 4), s"doc $id frame slots")
      fs.foreach { f =>
        val src = f.frame_idx * nf / 4
        assert(f.frame_ts_ms == src * 40L,
          s"doc $id slot ${f.frame_idx}: container timing diverged (${f.frame_ts_ms})")
        val px: Array[Byte] = Array.tabulate(w * h)(p => bytes((p + src) % bytes.length))
        val sha = Multimodal.shaOfHex(px).substring(0, 12)
        assert(f.frame_sig == sha,
          s"doc $id frame $src: decoded raster diverged from the planted pixels")
      }
      assert(fs.forall(f => math.max(f.out_w, f.out_h) == 224), s"doc $id resize must pin max side")
      assert(fs.forall(f => f.out_w >= 1 && f.out_h >= 1))
    }
  }

  test("semdedup: smallest-id keeper per tight neighborhood, cell-blind to cross-cell dups, cap splits") {
    val s = spark
    import s.implicits._
    val e1 = Seq(1.0f, 0.0f, 0.0f)
    val e1b = Seq(0.999f, 0.04f, 0.0f)   // cos ≈ 0.9992 with e1
    val e2 = Seq(0.0f, 1.0f, 0.0f)
    def df(rows: (Long, Seq[Float], Int)*) = rows.toDF("vec_id", "embedding", "cell")
    // same cell: 3 near-identical + 1 distinct → keep smallest id + the distinct
    val got1 = VectorOps.semDedupCore(
      df((5L, e1, 0), (2L, e1b, 0), (9L, e1, 0), (7L, e2, 0)), threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(got1 == Set(2L, 7L), s"keeper must be the smallest id of the clique: $got1")
    // clones split across cells are BOTH kept (the documented miss)
    val got2 = VectorOps.semDedupCore(
      df((1L, e1, 0), (2L, e1, 1)), threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(got2 == Set(1L, 2L))
    // chain a~b, b~c with cos(a,c) < threshold: greedy keeper drops ONLY
    // b — c's only >=threshold smaller-id neighbor was itself dropped,
    // so c survives with a as its non-representative (the invariant the
    // pairwise any-smaller-id rule broke: it orphaned c)
    val deg0 = Seq(math.cos(0.0).toFloat, math.sin(0.0).toFloat, 0.0f)
    val deg25 = Seq(math.cos(25 * math.Pi / 180).toFloat, math.sin(25 * math.Pi / 180).toFloat, 0.0f)
    val deg50 = Seq(math.cos(50 * math.Pi / 180).toFloat, math.sin(50 * math.Pi / 180).toFloat, 0.0f)
    val gotChain = VectorOps.semDedupCore(
      df((1L, deg0, 0), (2L, deg25, 0), (3L, deg50, 0)), threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(gotChain == Set(1L, 3L),
      s"chain must keep both ends, drop only the middle: $gotChain")
    // an oversized cell is SPLIT (hash segments absent __sub), never
    // exploded into one mega-task: 3 identical members over maxCell=2
    // land in <=2 bounded segments and every multi-member segment still
    // prunes — capped pruning, not the old skip-everything
    val got3 = VectorOps.semDedupCore(
      df((1L, e1, 0), (2L, e1, 0), (3L, e1, 0)), threshold = 0.99, maxCell = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got3.contains(1L) && got3.size < 3,
      s"oversized cell of identical vectors must still prune: $got3")
    // planted HOT cell with __sub ranks: two distinct dup pairs forced
    // into one mega-cell; rank-2 sub-quantization separates the pairs
    // and BOTH still prune to their keeper (the round-8 skip lost both)
    val hot = Seq(
        (1L, e1, 0, Seq(7)), (2L, e1b, 0, Seq(7)),
        (3L, e2, 0, Seq(8)), (4L, e2, 0, Seq(8)))
      .toDF("vec_id", "embedding", "cell", "__sub")
    val gotHot = VectorOps.semDedupCore(hot, threshold = 0.99, maxCell = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(gotHot == Set(1L, 3L),
      s"hot cell must split by residual rank and still prune both pairs: $gotHot")
    // fixture run: kept ⊆ corpus, deterministic, and every dropped vector
    // really has a smaller-id >=threshold neighbor in its own cell
    import org.apache.spark.sql.functions.col
    val assigned = VectorOps.ivfAssigned(s, sf("sf0.001"), cells = 16).assigned
      .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"), col("cell"))
    val kept = graft.SparkEntry.queries("dedup_semantic")(s, sf("sf0.001"))
      .select("vec_id").as[Long].collect().toSet
    val all = assigned.select("vec_id").as[Long].collect().toSet
    assert(kept.subsetOf(all) && kept.nonEmpty)
    val byCell = assigned.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getAs[Number](2).longValue))
      .groupBy(_._3)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    (all -- kept).foreach { v =>
      val cell = byCell.values.find(_.exists(_._1 == v)).get
      val ev = cell.find(_._1 == v).get._2
      assert(cell.exists(m => m._1 < v && cos(m._2, ev) >= 0.45),
        s"dropped vec $v has no smaller-id intra-cell neighbor at 0.45")
    }
  }

  test("mm_motion: a constant payload is a static clip (zero motion); alternating bytes move everywhere") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "x" * 300),                        // constant → every frame identical
      (2L, "ab" * 150))                       // period 2 → consecutive frames differ by |a-b| per pixel
      .toDF("doc_id", "text")
    val got = Multimodal.motionFeatures(Multimodal.encodeAnimations(docs))
      .collect().groupBy(_.doc_id)
    got(1L).foreach { m =>
      assert(m.sum_absdiff == 0L && m.changed_frac == 0.0,
        s"static clip must show zero motion: $m")
    }
    // doc2: frame f pixel p = bytes[(p+f) % 2] — consecutive frames are
    // the swapped pattern IF the frame offsets differ by an odd step;
    // the sampled pair steps are nf/4-ish, so assert on the model, not
    // a constant: every pair with odd (src_b - src_a) moves everywhere
    // at |'a'-'b'| = 1, every even-step pair is static.
    val md = java.security.MessageDigest.getInstance("MD5").digest(("ab" * 150).getBytes("UTF-8"))
    val nf = 4 + ((md(2) & 0xff) % 5)
    (0 until 3).foreach { i =>
      val step = ((i + 1) * nf / 4) - (i * nf / 4)
      val m = got(2L).find(_.pair_idx == i).get
      if (step % 2 == 1)
        assert(m.mean_absdiff == 1.0 && m.changed_frac == 1.0, s"odd-step pair must fully move: $m")
      else
        assert(m.sum_absdiff == 0L, s"even-step pair must be static: $m")
    }
  }

  test("distributed k-means recovers planted well-separated clusters exactly") {
    val s = spark
    import s.implicits._
    // 3 clusters around scaled orthogonal axes; ids interleaved so the
    // deterministic first-k init lands one seed in each true cluster.
    val dim = 8
    val pts = (0 until 60).map { id =>
      val c = id % 3
      val v = Array.fill(dim)(0.02f * ((id * 7 % 5) - 2)) // small noise
      v(c) = 10f + 0.1f * (id % 4)
      (id.toLong, v.toSeq)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val cs = VectorOps.kmeansFit(emb, k = 3, iters = 5)
    assert(cs.length == 3)
    // every point must land in the cell of its planted axis, and the
    // three centroids must each dominate a distinct axis
    val dominantAxis = cs.map(c => c.indexOf(c.max))
    assert(dominantAxis.toSet == Set(0, 1, 2), s"axes ${dominantAxis.toSeq}")
    val assigned = emb.select(col("vec_id"),
      VectorOps.ivfCell(col("embedding"), cs).as("cell"))
      .as[(Long, Int)].collect().toMap
    pts.foreach { case (id, v) =>
      val planted = (id % 3).toInt
      assert(dominantAxis(assigned(id)) == planted,
        s"vec $id (cluster $planted) assigned to axis ${dominantAxis(assigned(id))}")
    }
  }

  test("PCA power iteration recovers a planted dominant axis; components orthonormal, eigenvalues ordered") {
    val s = spark
    import s.implicits._
    // variance planted overwhelmingly along axis 3, secondarily axis 5
    val dim = 8
    val pts = (0 until 80).map { id =>
      val v = new Array[Float](dim)
      v(3) = ((id % 11) - 5) * 4f            // dominant spread
      v(5) = ((id % 7) - 3) * 1.5f           // secondary spread
      v(1) = ((id % 3) - 1) * 0.2f           // noise
      (id.toLong, v.toSeq)
    }
    val model = VectorOps.pcaTop(pts.toDF("vec_id", "embedding"))
    val (comps, totVar) = (model.components, model.totalVar)
    val (w1, l1) = comps(0); val (w2, l2) = comps(1)
    assert(math.abs(w1(3)) > 0.99, s"pc1 must align with axis 3: ${w1.toSeq}")
    assert(math.abs(w2(5)) > 0.99, s"pc2 must align with axis 5: ${w2.toSeq}")
    assert(l1 > l2 && l2 > 0, s"eigenvalues must descend: $l1, $l2")
    val dot = w1.zip(w2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-6, s"components must be orthogonal, dot=$dot")
    assert(math.abs(w1.map(x => x * x).sum - 1.0) < 1e-9, "pc1 must be unit")
    assert(l1 / totVar <= 1.0 + 1e-9 && (l1 + l2) / totVar <= 1.0 + 1e-9,
      "explained variance cannot exceed total")
    // canonical sign: largest-|loading| dim positive
    assert(w1(3) > 0 && w2(5) > 0, "sign canonicalization")
  }

  test("PCA on a rank-deficient corpus reports zero eigenvalues, never NaN") {
    val s = spark
    import s.implicits._
    // all variance on ONE axis: component 2's residual subspace is flat
    val pts = (0 until 40).map { id =>
      val v = new Array[Float](6); v(2) = id.toFloat; (id.toLong, v.toSeq)
    }
    val m = VectorOps.pcaTop(pts.toDF("vec_id", "embedding"))
    val (w1, l1) = m.components(0); val (w2, l2) = m.components(1)
    assert(math.abs(w1(2)) > 0.999 && l1 > 0)
    assert(l2 == 0.0, s"flat residual subspace must report eigenvalue 0, got $l2")
    (w1 ++ w2).foreach(x => assert(!x.isNaN, "loadings must never be NaN"))
    // degenerate corpus: every vector identical — BOTH components zero
    val flat = (0 until 10).map(i => (i.toLong, Seq.fill(6)(3.5f)))
    val fm = VectorOps.pcaTop(flat.toDF("vec_id", "embedding"))
    fm.components.foreach { case (w, l) =>
      assert(l == 0.0 && w.forall(!_.isNaN), s"degenerate corpus must yield 0-eigenvalue, got $l")
    }
  }

  test("embed_project applies the fitted basis: parity with an independent projection, residual identity") {
    val s = spark
    val got = graft.SparkEntry.queries("embed_project")(s, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val model = VectorOps.pcaTop(Tables(s, sf("sf0.001")).embeddings)
    val (w1, _) = model.components(0); val (w2, _) = model.components(1)
    assert(got.nonEmpty)
    vecs.foreach { case (id, v) =>
      val c = v.map(_.toDouble).zip(model.mean).map { case (x, m) => x - m }
      val p1 = c.zip(w1).map { case (x, p) => x * p }.sum
      val p2 = c.zip(w2).map { case (x, p) => x * p }.sum
      val resid = math.sqrt(math.max(c.map(x => x * x).sum - p1 * p1 - p2 * p2, 0.0))
      val (g1, g2, gr) = got(id)
      assert(math.abs(g1 - p1) < 1e-5 && math.abs(g2 - p2) < 1e-5 && math.abs(gr - resid) < 1e-5,
        s"vec $id projection mismatch: got ($g1,$g2,$gr) want ($p1,$p2,$resid)")
    }
    // mean projection ≈ 0 (the basis is centered) and every residual ≥ 0
    val n = got.size
    assert(math.abs(got.values.map(_._1).sum / n) < 1e-6, "p1 must be centered")
    got.values.foreach { case (_, _, r) => assert(r >= 0.0) }
  }

  test("mm_frames/mm_motion memoized decode path equals the direct demux path") {
    val s = spark
    val dir = sf("sf0.001")
    val media = Multimodal.encodeAnimations(Tables(s, dir).documents)
    val directFrames = Multimodal.sampleFrames(media)
      .collect().sortBy(f => (f.doc_id, f.frame_idx)).toSeq
    val memoFrames = graft.SparkEntry.queries("mm_frames")(s, dir)
      .as[Multimodal.FrameSample](org.apache.spark.sql.Encoders.product[Multimodal.FrameSample])
      .collect().sortBy(f => (f.doc_id, f.frame_idx)).toSeq
    assert(memoFrames == directFrames,
      "shared decoded-raster memo changed mm_frames' output")
    val directMotion = Multimodal.motionFeatures(media)
      .collect().sortBy(m => (m.doc_id, m.pair_idx)).toSeq
    val memoMotion = graft.SparkEntry.queries("mm_motion")(s, dir)
      .as[Multimodal.MotionSample](org.apache.spark.sql.Encoders.product[Multimodal.MotionSample])
      .collect().sortBy(m => (m.doc_id, m.pair_idx)).toSeq
    assert(memoMotion == directMotion,
      "shared decoded-raster memo changed mm_motion's output")
  }

  test("mm_keyframes: frame 0 always kept, frame i+1 kept iff 3*sum_i >= total; 2..4 frames/clip; non-vacuous") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    // independent re-derivation of the adaptive-threshold rule from the
    // motion view alone (the query rides the shared decoded memo; this
    // path recomputes motion directly from the media records)
    val media = Multimodal.encodeAnimations(Tables(s, dir).documents)
    val byDoc = Multimodal.motionFeatures(media)
      .collect().groupBy(_.doc_id)
    val expected = byDoc.flatMap { case (id, ms0) =>
      val ms = ms0.sortBy(_.pair_idx)
      val total = ms.map(_.sum_absdiff).sum
      (id, 0L, 0L) +: ms.collect {
        case m if 3L * m.sum_absdiff >= total =>
          (id, (m.pair_idx + 1).toLong, m.sum_absdiff)
      }.toSeq
    }.toSeq.sorted
    val got = graft.SparkEntry.queries("mm_keyframes")(s, dir)
      .select("doc_id", "frame_idx", "sum_absdiff")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == expected, "query output diverges from the re-derived rule")
    // invariants: every clip keeps frame 0, keeps at least one motion
    // frame (max >= mean), and keeps at most 4 of the 4 scheduled frames
    val perClip = got.groupBy(_._1)
    assert(perClip.nonEmpty)
    perClip.foreach { case (id, fs) =>
      assert(fs.exists(_._2 == 0L), s"clip $id lost frame 0")
      assert(fs.length >= 2 && fs.length <= 4, s"clip $id kept ${fs.length} frames")
    }
    // non-vacuity: the rule must actually DROP frames somewhere in the
    // corpus — otherwise it degenerates to mm_frames
    assert(perClip.exists(_._2.length < 4),
      "no clip dropped a frame: the adaptive threshold is vacuous on this corpus")
  }

  /** Smooth 2-D NON-SEPARABLE gray PNG:
    * 128 + 65·sin(2π(cx·x/w+px))·sin(2π(cy·y/h+py))
    *     + 55·sin(2π((cx+0.7)·x/w+py))·sin(2π((cy+0.7)·y/h+px)).
    * Spatial smoothness is the natural-image property perceptual
    * hashing assumes; the rank-2 (sum-of-two-products) structure is
    * what makes the 64 dHash comparisons INDEPENDENT — a y-constant or
    * single-product image makes whole rows/columns flip together, so
    * distances quantize to multiples of 8 and one marginal comparison
    * blows the threshold (the round-11 regression's fixtures).
    */
  private def smoothPng(id: Long, w: Int, h: Int,
      cx: Double, px: Double, cy: Double, py: Double): Multimodal.MediaRecord = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      raster.setSample(x, y, 0,
        (128 + 65 * math.sin(2 * math.Pi * (cx * x / w + px))
             * math.sin(2 * math.Pi * (cy * y / h + py))
             + 55 * math.sin(2 * math.Pi * ((cx + 0.7) * x / w + py))
             * math.sin(2 * math.Pi * ((cy + 0.7) * y / h + px))).toInt.max(0).min(255))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    Multimodal.MediaRecord(id, baos.toByteArray, "image/png")
  }

  test("perceptual image dedup: transcoded + resized copies caught, distinct images not paired") {
    val s = spark
    import s.implicits._
    // four distinct 2-D smooth images (different frequency/phase mixes;
    // measured hash margins: resized copies ≤1 bit, distinct pairs ≥23)
    val originals = Seq(
      smoothPng(1L, 72, 60, 1.0, 0.0, 2.0, 0.3),
      smoothPng(2L, 66, 54, 2.0, 0.25, 1.0, 0.6),
      smoothPng(3L, 60, 72, 2.4, 0.5, 1.4, 0.1),
      smoothPng(4L, 54, 66, 1.5, 0.75, 2.2, 0.9))
    val media = s.createDataset(originals)
    // GIF transcode (second real codec, same raster) — every image
    val transcoded = Multimodal.reencodedCopies(media, stride = 1, idOffset = 100L)
    // 2/3- and 3/4-scale PNG re-encodes — the re-hosted-at-lower-res
    // true positives (LAION-style thumbnails)
    val resized23 = Multimodal.reencodedCopies(media, stride = 1,
      num = 2, den = 3, format = "png", idOffset = 200L)
    val resized34 = Multimodal.reencodedCopies(media, stride = 1,
      num = 3, den = 4, format = "png", idOffset = 300L)
    val pairs = Multimodal.imageDupPairs(
      Multimodal.imageHashBlocks(
        media.union(transcoded).union(resized23).union(resized34)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    originals.map(_.doc_id).foreach { id =>
      assert(byPair.get((id, id + 100L)).contains(0L),
        s"GIF transcode of image $id must pair at distance 0: ${byPair.get((id, id + 100L))}")
      assert(byPair.contains((id, id + 200L)),
        s"2/3-scale resized copy of image $id must be caught (≤3): $pairs")
      assert(byPair.contains((id, id + 300L)),
        s"3/4-scale resized copy of image $id must be caught (≤3): $pairs")
    }
    // precision: no pair between DISTINCT source images (in any encoding)
    val falsePairs = pairs.filter { case (a, b, _) => a % 100 != b % 100 }
    assert(falsePairs.isEmpty, s"distinct images must not pair: ${falsePairs.toSeq}")
    // noise note made executable: dHash of the same image content is
    // encoder-invariant (distance 0) even for the fixture's noise
    // rasters — resize-stability is what needs smoothness
    val fixture = Multimodal.encodeImages(
      Tables(s, sf("sf0.001")).documents.limit(20))
    val fixturePairs = Multimodal.imageDupPairs(
      Multimodal.imageHashBlocks(fixture.union(
        Multimodal.reencodedCopies(fixture, stride = 1, idOffset = 1000000L))))
      .collect()
    assert(fixturePairs.length >= 20 &&
      fixturePairs.forall(_.getLong(2) == 0L),
      "every fixture image must pair with its transcode at distance 0")
  }

  test("perceptual audio dedup: re-encoded copies at distance 0, decimation-stable on smooth envelopes, distinct clips apart") {
    val s = spark
    import s.implicits._
    def wavOf(id: Long, pcm: Array[Byte]): Multimodal.MediaRecord = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, pcm.length.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      Multimodal.MediaRecord(id, baos.toByteArray, "audio/wav")
    }
    // smooth amplitude envelopes (|v−128| = 60 + 50·sin(2πc·i/n + φ)):
    // the natural-audio property the energy-delta fingerprint assumes —
    // decimation stability needs smoothness, as dHash needs it for
    // resizing
    def smoothPcm(n: Int, c: Double, phi: Double): Array[Byte] =
      Array.tabulate[Byte](n) { i =>
        (128 + 60 + math.round(50.0 * math.sin(2 * math.Pi * c * i / n + phi)).toInt).toByte
      }
    def decimate2(pcm: Array[Byte]): Array[Byte] =
      Array.tabulate[Byte](pcm.length / 2) { o =>
        (((pcm(2 * o) & 0xff) + (pcm(2 * o + 1) & 0xff)) / 2).toByte
      }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val signals = Seq((2.0, 0.0), (3.0, 1.1), (1.0, 2.3), (4.0, 0.7))
      .map { case (c, phi) => smoothPcm(1024, c, phi) }
    signals.foreach { pcm =>
      val d = ham(Multimodal.audioFingerprint(pcm),
        Multimodal.audioFingerprint(decimate2(pcm)))
      assert(d <= 3, s"2:1 decimation moved a smooth envelope $d bits")
    }
    for (i <- signals.indices; j <- signals.indices if i < j) {
      val d = ham(Multimodal.audioFingerprint(signals(i)),
        Multimodal.audioFingerprint(signals(j)))
      assert(d > 3, s"distinct envelopes $i/$j only $d bits apart")
    }
    // end-to-end on the fixture corpus: every losslessly re-encoded
    // copy must pair with its original at distance 0 (two real RIFF
    // walks) — the noise-PCM analog of the image transcode contract
    val fixture = Multimodal.encodeAudio(
      Tables(s, sf("sf0.001")).documents.limit(20))
    val pairs = Multimodal.imageDupPairs(
      Multimodal.audioHashBlocks(fixture.union(
        Multimodal.reencodedAudioCopies(fixture, stride = 1, idOffset = 1000000L))))
      .collect()
    val zero = pairs.filter(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(zero.length == 20 && zero.forall(_.getLong(2) == 0L),
      s"every clip must pair with its re-encode at distance 0: ${pairs.toSeq}")
  }

  test("k-means Lloyd iterations do not increase inertia; report partitions the corpus") {
    val s = spark
    import s.implicits._
    def inertia(emb: org.apache.spark.sql.DataFrame, cs: Array[Array[Double]]): Double =
      emb.collect().map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        cs.map(c => v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
      }.sum
    val emb = Tables(s, sf("sf0.001")).embeddings
    val i1 = inertia(emb, VectorOps.kmeansFit(emb, k = 8, iters = 1))
    val i8 = inertia(emb, VectorOps.kmeansFit(emb, k = 8, iters = 8))
    assert(i8 <= i1 + 1e-6, s"inertia rose across Lloyd iterations: $i1 -> $i8")
    val rep = graft.SparkEntry.queries("cluster_kmeans")(s, sf("sf0.001")).collect()
    val n = emb.count()
    assert(rep.map(_.getLong(1)).sum == n, "cluster populations must partition the corpus")
    assert(rep.map(_.getInt(0)).distinct.length == rep.length, "one row per cell")
    rep.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(3) >= 0.0))
  }
}

package graft.llm

import graft.SparkSpec

/** BPE trainer: the distributed merge loop must reproduce, exactly and
  * deterministically, the sequence a naive single-machine BPE (the
  * published algorithm, re-implemented here from scratch) computes on
  * the same corpus — ranks, pairs and counts.
  */
class BpeSpec extends SparkSpec {

  /** Independent reference: textbook BPE over an in-memory word-freq
    * map. Greedy left-to-right re-segmentation, ties broken
    * lexicographically on (left, right) — the same deterministic rule
    * the engine declares.
    */
  private def naiveBpe(corpus: Seq[String], k: Int, minPairCount: Long = 2): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] = corpus
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, f) => (w.map(_.toString).toVector :+ Bpe.Eow) -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (sym, f) =>
        sym.zip(sym.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some(((a, b), c)) if c >= minPairCount =>
          out += ((rank, a, b, c))
          words = words.map { case (sym, f) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            sym.foreach { x =>
              if (acc.nonEmpty && acc.last == a && x == b) acc(acc.size - 1) = a + b
              else acc += x
            }
            acc.toVector -> f
          }.groupBy(_._1).view.mapValues(_.values.sum).toMap
          rank += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  test("planted corpus: merge sequence matches the naive reference exactly") {
    val s = spark
    import s.implicits._
    // the Sennrich et al. running example, plus a repeated-letter word to
    // pin the greedy "aaa" -> [aa, a] overlap rule
    val corpus = Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest",
      "aaa aaa aaa aaa")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val expect = naiveBpe(corpus, k = 12)
    val got = Bpe.train(docs, k = 12)
      .map(m => (m.rank, m.left, m.right, m.pair_count))
    assert(got == expect,
      s"merge sequence diverged:\n got=$got\n exp=$expect")
    val gotDist = Bpe.train(docs, k = 12, maxLocalVocab = 0)
      .map(m => (m.rank, m.left, m.right, m.pair_count))
    assert(gotDist == expect,
      s"DISTRIBUTED merge sequence diverged:\n got=$gotDist\n exp=$expect")
    // the overlap rule really produced [aa, a]: after enough merges the
    // reference and engine agree, and 'aa' must appear as a merged unit
    assert(got.exists { case (_, a, b, _) => a == "a" && b == "a" },
      "the (a,a) merge must be learned from the aaa words")
  }

  test("segmentation via applyMerges matches the reference's final word states") {
    val s = spark
    import s.implicits._
    val corpus = Seq("banana bandana banana", "ban ban banana")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.train(docs, k = 8)
    // reference final segmentation: replay the merges naively per word
    def segment(w: String): Vector[String] = {
      var sym = w.map(_.toString).toVector :+ Bpe.Eow
      merges.foreach { m =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        sym.foreach { x =>
          if (acc.nonEmpty && acc.last == m.left && x == m.right) acc(acc.size - 1) = m.merged
          else acc += x
        }
        sym = acc.toVector
      }
      sym
    }
    val words = corpus.flatMap(_.split(" ")).distinct
    val got = words.toDF("w")
      .select(org.apache.spark.sql.functions.col("w"),
        Bpe.applyMerges(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.split(org.apache.spark.sql.functions.col("w"), ""),
            org.apache.spark.sql.functions.array(org.apache.spark.sql.functions.lit(Bpe.Eow))),
          merges).as("sym"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    words.foreach { w =>
      assert(got(w) == segment(w), s"word '$w': ${got(w)} vs ${segment(w)}")
    }
  }

  test("merge loop is partitioning-invariant and bounded by minPairCount") {
    val s = spark
    import s.implicits._
    val corpus = Seq("ab ab ab", "cd cd", "ef")
    val docs1 = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val docs8 = docs1.repartition(8)
    val m1 = Bpe.train(docs1, k = 20)
    val m8 = Bpe.train(docs8, k = 20)
    assert(m1 == m8, "partitioning must not change the merge sequence")
    // the fully-distributed loop (forced via maxLocalVocab = 0) is
    // semantically identical to the local fast path
    val mDist = Bpe.train(docs8, k = 20, maxLocalVocab = 0)
    assert(mDist == m1, "distributed and local paths must agree merge-for-merge")
    // every reported count respects the floor, and the loop stopped
    // before k because the tiny corpus ran dry
    assert(m1.forall(_.pair_count >= 2) && m1.size < 20)
  }

  test("pair-count aggregation is map-side combinable (partial sum before the shuffle)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // the per-iteration pair count, as trainDistributed builds it
    val words = Seq((Seq("a", "b", Bpe.Eow), 3L), (Seq("a", "b", "c", Bpe.Eow), 2L))
      .toDF("sym", "freq")
    val pairs = words
      .select(col("freq"),
        explode(zip_with(col("sym"), slice(col("sym"), lit(2), size(col("sym"))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .filter(col("p.b").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("partial sum"),
      s"pair counts must partial-aggregate before the shuffle:\n$plan")
  }

  test("encode: token stream = concatenation of the trainer's final word segmentations") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val corpus = Seq("banana bandana banana", "ban ban banana", "aaa banana aaa")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.train(docs, k = 8)
    def segment(w: String): Vector[String] = {
      var sym = w.map(_.toString).toVector :+ Bpe.Eow
      merges.foreach { m =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        sym.foreach { x =>
          if (acc.nonEmpty && acc.last == m.left && x == m.right) acc(acc.size - 1) = m.merged
          else acc += x
        }
        sym = acc.toVector
      }
      sym
    }
    val got = docs.select(col("doc_id"), Bpe.encode(col("text"), merges).as("bpe"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    corpus.zipWithIndex.foreach { case (t, i) =>
      val expect = t.split(" ").filter(_.nonEmpty).toVector.flatMap(segment)
      assert(got(i.toLong) == expect, s"doc $i: ${got(i.toLong)} vs $expect")
    }
    // every emitted token is in the trained vocab: base chars, the </w>
    // marker, or a transitively-built merged symbol
    val vocab = corpus.flatMap(_.split(" ")).flatMap(_.map(_.toString)).toSet ++
      Set(Bpe.Eow) ++ merges.map(_.merged)
    val emitted = got.values.flatten.toSet
    assert(emitted.subsetOf(vocab), s"out-of-vocab tokens: ${emitted -- vocab}")
    // merges actually compress: fewer tokens than the char+eow baseline
    val nBase = corpus.map(t => t.count(_ != ' ') + t.split(" ").count(_.nonEmpty)).sum
    val nGot = got.values.map(_.size).sum
    assert(nGot < nBase, s"expected compression, got $nGot vs baseline $nBase")
  }

  test("bpe_encode id: deterministic, merged-unit stats consistent, cached path = per-row fold") {
    import org.apache.spark.sql.functions._
    val df = graft.SparkEntry.queries("bpe_encode")(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") > 0)
      assert(r.getAs[Long]("n_merged") <= r.getAs[Long]("n_tokens"))
    }
    // some learned unit fires somewhere on the training corpus itself
    assert(rows.map(_.getAs[Long]("n_merged")).sum > 0)
    val again = graft.SparkEntry.queries("bpe_encode")(spark, sf("sf0.001")).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the distinct-word cache path must produce the SAME token stream as
    // the per-row reference fold — checked on the fixture corpus itself
    val merges = Bpe.trainedMerges(spark, sf("sf0.001"))
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val viaCache = Bpe.encodeDocs(docs, merges)
      .select(col("doc_id"), array_join(col("bpe"), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaFold = docs
      .select(col("doc_id"), array_join(Bpe.encode(col("text"), merges), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaCache == viaFold, "cached and per-row encodes must agree token-for-token")
  }

  test("fixture corpus: 16 deterministic merges, descending-ish counts, rows for the driver") {
    val df = graft.SparkEntry.queries("bpe_merges")(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.length == 16, s"expected 16 merges, got ${rows.length}")
    val ranks = rows.map(_.getAs[Int]("rank")).toSeq
    assert(ranks == (0 until 16), "ranks must be the dense merge order")
    // merge counts never increase against a FIXED segmentation only per
    // step; across steps they can locally rise, but the first must be
    // the global max pair count
    val counts = rows.map(_.getAs[Long]("pair_count"))
    assert(counts.head == counts.max, "rank 0 must carry the most frequent pair")
    // determinism across invocations
    val again = graft.SparkEntry.queries("bpe_merges")(spark, sf("sf0.001")).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("corpus_export: BPE-count shard budgets, deterministic assignment, round-trip order") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val df = graft.SparkEntry.queries("corpus_export")(spark, dir)
    val rows = df.collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("shard"), r.getAs[Long]("shard_offset")))
    assert(rows.nonEmpty, "capstone must be non-vacuous on the fixture")

    // 1. the export only contains gate survivors after exact dedup, and
    //    its token counts are the REAL tokenizer's (bpe_encode parity)
    val bpeCounts = graft.SparkEntry.queries("bpe_encode")(spark, dir)
      .select("doc_id", "n_tokens").as[(Long, Long)](
        org.apache.spark.sql.Encoders.product[(Long, Long)]).collect().toMap
    rows.foreach { case (_, id, n, _, _) =>
      assert(bpeCounts(id) == n, s"doc $id token count $n != tokenizer's ${bpeCounts(id)}")
    }
    val wsCounts = graft.Tables(spark, dir).documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"))
      .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)]).collect().toMap
    assert(rows.exists { case (_, id, n, _, _) => wsCounts(id) != n },
      "BPE counts must differ from whitespace counts somewhere — else the packing isn't on real tokens")

    // 2. shard budgets: cumulative binning at cap=512 on BPE counts,
    //    replayed locally per source in doc_id order
    val cap = 512L
    rows.groupBy(_._1).foreach { case (src, rs) =>
      var cum = 0L
      rs.sortBy(_._2).foreach { case (_, id, n, shard, off) =>
        assert(shard == cum / cap, s"$src/$id: shard $shard != ${cum / cap}")
        assert(off == cum % cap, s"$src/$id: offset $off != ${cum % cap}")
        assert(off >= 0 && off < cap, s"$src/$id: offset $off outside [0,$cap)")
        cum += n
      }
    }

    // 3. deterministic assignment across invocations
    val again = graft.SparkEntry.queries("corpus_export")(spark, dir).collect()
    assert(df.collect().map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)

    // 4. round-trip: reading docs back in (shard, shard_offset) order
    //    reproduces doc_id order per source — the packed stream
    //    concatenates in the original deterministic order
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byShard = rs.sortBy(r => (r._4, r._5)).map(_._2).toSeq
      assert(byShard == rs.map(_._2).sorted.toSeq,
        s"$src: shard order must reconstruct doc order")
    }
  }

  test("corpus_export_split: exact-cap shards on real token counts, consistent with the spillover view") {
    val s0 = spark
    import s0.implicits._
    val cap = Bpe.ExportCap
    val split = graft.SparkEntry.queries("corpus_export_split")(s0, sf("sf0.001"))
      .select("source", "doc_id", "n_tokens", "h", "shard", "piece_idx", "tok_start", "tok_end", "shard_offset", "piece_len")
      .as[(String, Long, Long, String, Long, Long, Long, Long, Long, Long)].collect()
    assert(split.nonEmpty)
    // every non-final shard per source holds EXACTLY cap real tokens
    split.groupBy(_._1).foreach { case (src, rs) =>
      val byShard = rs.groupBy(_._5).view.mapValues(_.map(_._10).sum).toMap
      val last = byShard.keys.max
      byShard.foreach { case (sh, tot) =>
        if (sh != last) assert(tot == cap, s"$src shard $sh holds $tot, cap $cap")
        else assert(tot >= 1 && tot <= cap, s"$src final shard overfull: $tot")
      }
      assert(byShard.keys.toSeq.sorted == (0L to last), s"$src shard gaps")
    }
    // pieces partition each doc's token range in consecutive shards
    split.groupBy(r => (r._1, r._2)).foreach { case ((src, id), ps) =>
      val sorted = ps.sortBy(_._6)
      assert(sorted.head._7 == 0L && sorted.last._8 == sorted.head._3, s"$src/$id range")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._8 == b._7 && b._5 == a._5 + 1, s"$src/$id pieces")
        case _ => ()
      }
    }
    // consistency with corpus_export: same docs, counts, hashes; the
    // spillover view's (shard, shard_offset) is exactly piece 0's here
    val spill = graft.SparkEntry.queries("corpus_export")(s0, sf("sf0.001"))
      .select("source", "doc_id", "n_tokens", "h", "shard", "shard_offset")
      .as[(String, Long, Long, String, Long, Long)].collect()
    val firstPieces = split.filter(_._6 == 0L)
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._9)).toMap
    assert(spill.map(r => (r._1, r._2)).toSet == firstPieces.keySet,
      "the two export modes must cover the same gated+deduped doc set")
    spill.foreach { case (src, id, n, h, sh, off) =>
      val (n2, h2, sh2, off2) = firstPieces((src, id))
      assert(n == n2 && h == h2, s"$src/$id token table diverged between modes")
      assert(sh == sh2 && off == off2, s"$src/$id first-piece shard/offset != spillover view")
    }
  }

  test("splitPieces: a zero-token doc emits ONE zero-length piece, keeping the cross-mode doc sets equal") {
    // Round-14 ADVICE: the split mode filtered n_tokens > 0, silently
    // covering a different doc set than the spillover view whenever a
    // gated+deduped doc BPE-encodes empty (unreachable through the full
    // pipeline at this fixture — the Gopher gate needs >= 50 words — so
    // the contract is pinned on the extracted projection directly).
    val s0 = spark
    import s0.implicits._
    val cap = Bpe.ExportCap
    // doc 2 is mid-shard zero-token; doc 5 lands exactly on a shard
    // boundary (start % cap == 0); doc 6 straddles after it
    val tokens = Seq(
      ("s", 1L, 300L, "h1"), ("s", 2L, 0L, "h2"), ("s", 3L, 212L, "h3"),
      ("s", 5L, 0L, "h5"), ("s", 6L, 700L, "h6"))
      .toDF("source", "doc_id", "n_tokens", "h")
    val ps = Bpe.splitPieces(tokens)
      .select("doc_id", "n_tokens", "shard", "piece_idx", "tok_start", "tok_end", "shard_offset", "piece_len")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._4))
    // every input doc appears — including the zero-token ones
    assert(ps.map(_._1).distinct.toSeq == Seq(1L, 2L, 3L, 5L, 6L))
    val z2 = ps.filter(_._1 == 2L)
    assert(z2.length == 1 && z2(0)._3 == 0L && z2(0)._8 == 0L &&
      z2(0)._5 == 0L && z2(0)._6 == 0L && z2(0)._7 == 300L,
      s"mid-shard zero-token doc: one empty piece at its stream position, got ${z2.toSeq}")
    val z5 = ps.filter(_._1 == 5L)
    assert(z5.length == 1 && z5(0)._3 == 1L && z5(0)._8 == 0L && z5(0)._7 == 0L,
      s"boundary zero-token doc: one empty piece in the NEXT shard at offset 0, got ${z5.toSeq}")
    // the non-zero docs' piece arithmetic is unchanged by the guard
    val d6 = ps.filter(_._1 == 6L)
    assert(d6.map(_._3).toSeq == Seq(1L, 2L) && d6.map(_._8).sum == 700L &&
      d6(0)._8 == cap && d6(0)._7 == 0L)
    // piece_len sums reproduce n_tokens for EVERY doc (zero included)
    ps.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._8).sum == rs.head._2, s"doc $id piece lengths")
    }
  }

  test("bpe_fertility: per-language table recomputes from bpe_encode's own counts; fertility >= 1") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    val got = Bpe.queries("bpe_fertility")(s, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    // independent recomposition: bpe_encode's n_tokens joined with the
    // raw corpus's word/byte counts, folded per language in plain Scala
    val tok = Bpe.queries("bpe_encode")(s, dir)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    val docs = graft.Tables(s, dir).documents
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    val byLang = docs.filter(d => tok.contains(d._1)).groupBy(_._2)
    assert(got.keySet == byLang.keySet)
    byLang.foreach { case (lang, ds) =>
      val (n, t, w, b) = (ds.size.toLong,
        ds.map(d => tok(d._1)).sum,
        ds.map(_._3.split(" ").length.toLong).sum,
        ds.map(_._3.getBytes("UTF-8").length.toLong).sum)
      val row = got(lang)
      assert((row._2, row._3, row._4, row._5) == ((n, t, w, b)), s"$lang totals")
      // integer micro-units via exact rational rounding (round 16:
      // round(a/b*1e6) = (2a*1e6 + b) div (2b), no IEEE on the path)
      assert(row._6 == (2L * t * 1000000L + w) / (2L * w), s"$lang fertility")
      assert(row._7 == (2L * b * 1000000L + t) / (2L * t), s"$lang bytes/token")
      // word-based BPE never merges across word boundaries
      assert(row._6 >= 1000000L, s"$lang fertility below 1")
    }
  }

  test("training_manifest: rollups and checksums recount from corpus_export's own rows") {
    val s = spark
    val dir = sf("sf0.001")
    val export = graft.SparkEntry.queries("corpus_export")(s, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("shard"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[String]("h")))
    val expected = export.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
      val sorted = rows.sortBy(_._3)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(sorted.map(_._5).mkString("").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      k -> ((rows.length.toLong, rows.map(_._4).sum, digest))
    }
    val got = graft.SparkEntry.queries("training_manifest")(s, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("shard")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("manifest_sha")))).toMap
    assert(got == expected,
      s"manifest must be exactly the per-shard rollup of the export (${got.size} vs ${expected.size})")
    assert(got.nonEmpty && got.keys.map(_._2).toSet.size > 1,
      "fixture must produce multiple shards somewhere")
  }

  test("pack_efficiency: recomputes from corpus_export_split's own pieces; waste < cap and only in the final shard") {
    val s = spark
    val pieces = graft.SparkEntry.queries("corpus_export_split")(s, sf("sf0.001")).collect()
    val eff = graft.SparkEntry.queries("pack_efficiency")(s, sf("sf0.001")).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_shards"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("capacity"), r.getAs[Long]("waste"),
          r.getAs[Double]("waste_frac")))).toMap
    assert(eff.nonEmpty)
    val bySrc = pieces.groupBy(_.getAs[String]("source"))
    assert(eff.keySet == bySrc.keySet)
    bySrc.foreach { case (src, ps) =>
      val nShards = ps.map(_.getAs[Long]("shard")).max + 1
      val nTokens = ps.map(_.getAs[Long]("piece_len")).sum
      val (gs, gt, gc, gw, gf) = eff(src)
      assert(gs == nShards && gt == nTokens && gc == nShards * 512 &&
        gw == gc - gt && gf == gw.toDouble / gc, s"$src mismatch")
      assert(gw >= 0 && gw < 512, s"$src waste $gw out of [0, cap)")
      // hard-capped export: every NON-final shard holds exactly 512
      ps.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rows) =>
        val tok = rows.map(_.getAs[Long]("piece_len")).sum
        if (sh < nShards - 1) assert(tok == 512, s"$src shard $sh holds $tok")
      }
    }
  }

  test("oracleSql embeds the live trained model: every encode/export id, every merge as a literal") {
    // pin the oracle-lookup dir (round 17: dynamic oracles are keyed by
    // the last fixture dir READ; a memo cache hit performs no read, so
    // touch the dir explicitly before dumping)
    graft.Tables(spark, sf("sf0.001")).documents
    val merges = Bpe.trainedMerges(spark, sf("sf0.001"))
    assert(merges.nonEmpty, "fixture must train at least one merge")
    val o = Bpe.oracleSql
    assert(o.keySet == Set("bpe_encode", "bpe_fertility",
      "corpus_export", "corpus_export_split", "pack_efficiency",
      "bpe_merges", "vocab_prune", "training_manifest", "corpus_release",
      "corpus_release_delta"),
      s"ids: ${o.keySet}")
    // each merge pair must appear as a VALUES literal in every
    // model-embedding oracle (one shared merges CTE per statement);
    // bpe_merges is the exception — its oracle REPLAYS training from
    // scratch (16 unrolled stages) and embeds nothing
    (o - "bpe_merges").foreach { case (id, sql) =>
      merges.foreach { m =>
        val lit = s"(${m.rank}, '${m.left.replace("'", "''")}', '${m.right.replace("'", "''")}')"
        assert(sql.contains(lit), s"$id oracle missing merge literal $lit")
      }
    }
    assert(!o("bpe_merges").contains("VALUES ("),
      "the training oracle must embed no model literals")
    assert(o("bpe_merges").contains("MATERIALIZED"),
      "unrolled stages must be materialized (exponential re-inline otherwise)")
  }

  test("corpus_release: funnel ≡ fuzzy-scrub ∩ gopher ∩ dedup ∩ half-mass budget, recomputed from sibling ids") {
    val s0 = spark
    val dir = sf("sf0.001")
    val docs = graft.Tables(s0, dir).documents
    // independent funnel recomputation from ALREADY-VERIFIED board ids:
    // train split + 50% release scrub from decon_overlap's counts,
    // gopher keep from gopher_rules, dedup + half-mass budget re-derived
    val trainIds = Sampling.splitAssign(docs, "doc_id")
      .filter(org.apache.spark.sql.functions.col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val scrubbed = graft.SparkEntry.queries("decon_overlap")(s0, dir)
      .collect().filter(r => r.getAs[Long]("n_hit") * 2 >= r.getAs[Long]("n_grams"))
      .map(_.getAs[Long]("doc_id")).toSet
    val gopherKeep = graft.SparkEntry.queries("gopher_rules")(s0, dir)
      .collect().filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    val textOf = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val wordsOf = textOf.view.mapValues(_.split(" ").count(_.nonEmpty).toLong).toMap
    val surv0 = (trainIds -- scrubbed).filter(gopherKeep)
    val surv = surv0.groupBy(id => textOf(id)).map(_._2.min).toSet // min-id dedup
    // half-mass budget over exact quality levels
    def q6(id: Long): Long = {
      val t = textOf(id)
      val w = BigInt(wordsOf(id))
      val stop = BigInt(t.split(" ").count(Set("the", "a", "of", "and")))
      val sym = BigInt(t.replaceAll("[a-z ]", "").length)
      val len = BigInt(t.length)
      val den = w * len
      val num = den * (BigInt(5000) * w.min(100) + 200000) + BigInt(300000) * stop * len -
        BigInt(200000) * sym * w
      ((num * 2 + den) / (den * 2)).toLong
    }
    val hist = surv.groupBy(q6).view.mapValues(_.toSeq.map(wordsOf).sum).toSeq.sortBy(-_._1)
    val budget = hist.map(_._2).sum / 2
    var cum = 0L
    var qStar = Long.MaxValue
    for ((lvl, t) <- hist) { cum += t; if (cum <= budget) qStar = lvl }
    val expect = surv.filter(id => q6(id) >= qStar)
    // the manifest's doc accounting must equal the recomputed admission
    val rel = graft.SparkEntry.queries("corpus_release")(s0, dir).collect()
    assert(rel.nonEmpty, "release manifest must be non-vacuous at sf0.001")
    assert(rel.map(_.getAs[Long]("n_docs")).sum == expect.size,
      s"manifest docs ${rel.map(_.getAs[Long]("n_docs")).sum} != recomputed admission ${expect.size}")
    // budget stage is non-vacuous: some survivors were excluded
    assert(expect.size < surv.size, s"budget admitted all ${surv.size} survivors — vacuous stage")
    assert(expect.nonEmpty, "budget admitted nothing")
  }

  test("withPackCum: two-level salt-local cumulative ≡ the direct one-window prefix sum (multi-bucket, interleaved, skewed)") {
    // Round 17: the packing window stopped sorting a whole source in one
    // task. This pins the EXACTNESS of the replacement against the
    // direct window on a fixture that spans many PackBucketWidth
    // buckets, interleaves sources within every bucket, and plants
    // skewed token masses (including zero-token docs at bucket edges).
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0L until 400L).map { i =>
      val tok = if (i % 97 == 0) 0L else (i % 13) + (if (i % 50 == 0) 900L else 1L)
      (s"s${i % 3}", i * 7L % 1000L, tok, s"h$i") // 7 ⊥ 1000: ids unique
    }
    val tokens = rows.toDF("source", "doc_id", "n_tokens", "h")
      .repartition(8) // scatter rows so bucket-locality is earned, not inherited
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val direct = tokens
      .withColumn("cum_direct", sum(col("n_tokens")).over(w))
      .select("source", "doc_id", "cum_direct")
    val two = Bpe.withPackCum(tokens).select("source", "doc_id", "__cum")
    val joined = two.join(direct, Seq("source", "doc_id"))
      .filter(col("__cum") =!= col("cum_direct"))
    assert(joined.count() == 0, "two-level cumulative diverged from the direct window")
    assert(rows.map(_._2).max / Bpe.PackBucketWidth >= 5,
      "fixture must actually span several buckets")
  }

  test("corpus_release_delta: self-delta empty, statuses partition the digest diff") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    // a release diffed against itself must be empty (same pred + tag →
    // identical manifests; the digest rule can never flag noise)
    val m = Bpe.releaseManifest(s, dir)
    val self = m.as("o").join(m.as("n"), Seq("source", "shard"), "full_outer")
      .filter(col("o.manifest_sha").isNull || col("n.manifest_sha").isNull ||
        col("o.manifest_sha") =!= col("n.manifest_sha"))
    assert(self.count() == 0, "self-delta must be empty")

    val delta = graft.SparkEntry.queries("corpus_release_delta")(s, dir)
      .collect()
    assert(delta.nonEmpty, "even→full release must change shards at this fixture")
    delta.foreach { r =>
      val (st, oldSha, newSha) =
        (r.getString(2), Option(r.getString(3)), Option(r.getString(4)))
      st match {
        case "added"   => assert(oldSha.isEmpty && newSha.nonEmpty, r)
        case "removed" => assert(oldSha.nonEmpty && newSha.isEmpty, r)
        case "changed" => assert(oldSha.nonEmpty && newSha.nonEmpty && oldSha != newSha, r)
        case other     => fail(s"unknown status $other")
      }
    }
    // the delta is exactly the non-identical part of the two manifests:
    // every N+1 shard NOT in the delta must appear in N with the same sha
    val old = Bpe.releaseManifest(s, dir, col("doc_id") % 2 === 0, "even")
      .select(col("source"), col("shard"), col("manifest_sha").as("sha"))
      .as[(String, Long, String)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val deltaKeys = delta.map(r => (r.getString(0), r.getLong(1))).toSet
    Bpe.releaseManifest(s, dir)
      .select(col("source"), col("shard"), col("manifest_sha").as("sha"))
      .as[(String, Long, String)].collect()
      .filterNot(t => deltaKeys((t._1, t._2)))
      .foreach { t =>
        assert(old.get((t._1, t._2)).contains(t._3),
          s"unflagged shard ${(t._1, t._2)} must be sha-identical in both releases")
      }
  }

  test("split(w, \"\") yields one element per code point with no trailing empty, as the oracle's string_split(w, '')") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, split}
    val astral = new String(Character.toChars(0x1D54F)) // one code point, two UTF-16 units
    val words = Seq("abc", "a" + astral + "b", "x\ny", "", "\u00e9")
    val got = words.toDF("w").select(split(col("w"), "")).collect().map(_.getSeq[String](0)).toSeq
    assert(got == Seq(Seq("a", "b", "c"), Seq("a", astral, "b"), Seq("x", "\n", "y"), Seq(""), Seq("\u00e9")))
  }
}

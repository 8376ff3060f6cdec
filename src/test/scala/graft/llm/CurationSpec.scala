package graft.llm

import graft.SparkSpec
import graft.store.Store
import org.apache.spark.sql.functions._

/** Semantics of the curation passes on planted inputs (the sf oracles
  * prove engine parity; these prove the operators do the RIGHT thing).
  */
class CurationSpec extends SparkSpec {

  test("decontaminate drops exactly the train docs overlapping the eval split") {
    val s = spark
    import s.implicits._
    // find one real test-split doc at sf0.001, plant its text onto a
    // train-split doc id, and check that doc id is scrubbed
    val sp = Sampling.splitAssign(graft.Tables(s, sf("sf0.001")).documents, "doc_id")
    val evalDoc = sp.filter(col("split") === "test")
      .filter(size(split(col("text"), " ")) >= 3)
      .select("text").as[String].head()
    val trainIds = sp.filter(col("split") === "train")
      .select("doc_id").as[Long].collect().toSet
    val plantedId = trainIds.head
    val docs = sp.select("doc_id", "source", "text")
      .withColumn("text", when(col("doc_id") === plantedId, evalDoc).otherwise(col("text")))
    // rebuild the pipeline over the planted corpus (same logic as the id)
    val train = Sampling.splitAssign(docs, "doc_id").filter(col("split") === "train")
    val ev = Sampling.splitAssign(docs, "doc_id").filter(col("split") === "test")
    val trainNg = NearDedup.shingleArrays(train)
      .select(col("doc_id"), explode(col("sh")).as("ng"))
    val evalNg = NearDedup.shingleArrays(ev).select(explode(col("sh")).as("ng")).distinct()
    val contaminated = trainNg.join(evalNg, Seq("ng"), "left_semi")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(contaminated.contains(plantedId), "planted eval copy must be flagged")
    val clean = train.select("doc_id")
      .join(trainNg.join(evalNg, Seq("ng"), "left_semi").select("doc_id").distinct(),
        Seq("doc_id"), "left_anti").as[Long].collect().toSet
    assert(!clean.contains(plantedId))
    assert((clean ++ contaminated) == trainIds, "survivors + flagged must partition train")
  }

  test("decon_normalized catches a case/punct/NFD-disguised eval copy that exact shingles miss") {
    val s = spark
    import s.implicits._
    val sp = Sampling.splitAssign(graft.Tables(s, sf("sf0.001")).documents, "doc_id")
    val evalDoc = sp.filter(col("split") === "test")
      .filter(size(split(col("text"), " ")) >= 3)
      .select("text").as[String].head()
    val trainIds = sp.filter(col("split") === "train")
      .select("doc_id").as[Long].collect().toSet
    val plantedId = trainIds.head
    // disguise: uppercase every other word, append punctuation, and
    // decompose an accented prefix word to NFD — zero RAW 3-gram
    // shingles survive, but the normalized text is word-identical
    val disguised = ("Café! " + evalDoc.split(" ").zipWithIndex
      .map { case (w, i) => if (i % 2 == 0) w.toUpperCase + "," else w }
      .mkString(" ")).trim
    val docs = sp.select("doc_id", "source", "text")
      .withColumn("text",
        when(col("doc_id") === plantedId, disguised).otherwise(col("text")))
    val dir = graft.Engine.scratchDir("deconnorm")
    docs.write.parquet(s"$dir/documents.parquet")
    val normSurvivors = graft.SparkEntry.queries("decon_normalized")(s, dir.toString)
      .select("doc_id").as[Long].collect().toSet
    val exactSurvivors = graft.SparkEntry.queries("decontaminate")(s, dir.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(!normSurvivors.contains(plantedId),
      "normalized matching must scrub the disguised eval copy")
    assert(exactSurvivors.contains(plantedId),
      "the disguise must actually defeat exact-shingle matching (else this test is vacuous)")
    // the normalization only ever catches MORE: survivors are a subset
    assert(normSurvivors.subsetOf(exactSurvivors),
      "normalized scrub must never keep a doc the exact scrub drops")
    // and every train doc is accounted for exactly once
    assert(normSurvivors.subsetOf(trainIds) && exactSurvivors.subsetOf(trainIds))
  }

  test("select_budget_density: exact greedy prefix in density order, differs from raw-quality selection") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val sel = TextOps.queries("select_budget_density")(s, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(sel.nonEmpty)
    val spent = sel.map(_._2).sum
    assert(spent <= 10000L, s"budget exceeded: $spent")
    // the selection is a PREFIX of the (density_e9 desc, doc_id) order,
    // derived independently via the exact-integer reimplementation
    // (round 16: the sort key is BIGINT rational arithmetic end-to-end)
    val all = graft.Tables(s, dir).documents
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        (id, t.split(" ", -1).length.toLong, ExactQualityKit.densityE9(t).get)
      }
      .sortBy { case (id, _, d) => (-d, id) }
    val prefix = all.take(sel.length)
    assert(prefix.map(_._1).toSet == sel.map(_._1).toSet,
      "selected docs must be exactly the density-greedy prefix")
    val next = all.drop(sel.length).headOption
    next.foreach { case (_, nTok, _) =>
      assert(spent + nTok > 10000L,
        s"selection not maximal: next doc ($nTok tokens) still fits")
    }
    // the variant is non-vacuous: density order picks a different doc
    // set than raw quality under the same budget (shorter docs win)
    val raw = TextOps.queries("select_budget")(s, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(sel.map(_._1).toSet != raw,
      "density selection must differ from raw-quality selection on the fixture")
    assert(sel.length > raw.size,
      "density order should pack MORE (shorter) docs into the same budget")
  }

  test("lang_confusion discriminates on discriminable data: planted stopword docs land off the 'en' column") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat with a dog", "en"),
      (2L, "le chat et la souris et les oiseaux", "en"), // mislabeled on purpose
      (3L, "der hund und die katze und das haus", "de"),
      (4L, "el gato y los perros y que casa", "es"),
      (5L, "the le la data et", "fr") // s_en=1 vs s_fr=3 -> fr wins
    ).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
    val dir = graft.Engine.scratchDir("langconf")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = TextOps.queries("lang_confusion")(s, dir.toString)
      .as[(String, String, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    // row 'en': one true-en doc predicted en, one mislabeled-en doc
    // predicted fr -> off-diagonal mass with exact 1/2 shares
    assert(got(("en", "en")) == ((1L, 2L, 500000L)))
    assert(got(("en", "fr")) == ((1L, 2L, 500000L)))
    assert(got(("de", "de"))._1 == 1L && got(("es", "es"))._1 == 1L)
    assert(got(("fr", "fr")) == ((1L, 1L, 1000000L)))
    assert(got.keys.map(_._2).toSet.size > 1, "predictor must discriminate here")
  }

  test("corpus_diff: statuses and token deltas recount from the v2 congruences; all four statuses live") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val docs = graft.Tables(s, dir).documents
      .select("doc_id", "text").as[(Long, String)].collect()
    def toks(t: String) = t.split(" ", -1).length.toLong
    val removed = docs.filter(_._1 % 23 == 5)
    val changed = docs.filter(d => d._1 % 17 == 3 && d._1 % 23 != 5)
    val added = docs.filter(_._1 % 29 == 7)
    val unchanged = docs.length - removed.length - changed.length
    val got = Curation.queries("corpus_diff")(s, dir)
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.keySet == Set("added", "removed", "changed", "unchanged"),
      s"all four statuses must be live on the fixture: ${got.keySet}")
    assert(got("removed") == ((removed.length.toLong, -removed.map(d => toks(d._2)).sum)))
    // " edited v2" appends exactly 2 whitespace tokens per changed doc
    assert(got("changed") == ((changed.length.toLong, 2L * changed.length)))
    // "new page " prepends exactly 2 tokens to each added clone
    assert(got("added") == ((added.length.toLong,
      added.map(d => toks(d._2) + 2L).sum)))
    assert(got("unchanged") == ((unchanged.toLong, 0L)))
  }

  test("select_budget_approx twins: subset of the exact greedy selection, budget kept, only the boundary level dropped") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    for ((exactId, approxId) <- Seq(
        "select_budget" -> "select_budget_approx",
        "select_budget_density" -> "select_budget_density_approx")) {
      val exact = TextOps.queries(exactId)(s, dir)
        .as[(Long, Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      val approx = TextOps.queries(approxId)(s, dir)
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(approx.nonEmpty, s"$approxId empty")
      assert(approx.values.map(_._1).sum <= 10000L, s"$approxId over budget")
      // level-admission ⊆ exact greedy: approx keeps whole key levels
      // that fit, exact additionally packs part of the boundary level
      assert(approx.keySet.subsetOf(exact.keySet),
        s"$approxId must be a subset of $exactId")
      // everything the exact selection dropped from approx sits at ONE
      // key level — the partially-fitting boundary level
      val dropped = exact.keySet.diff(approx.keySet).map(exact(_)._2)
      assert(dropped.size <= 1,
        s"$approxId drop must be confined to the boundary level, got levels $dropped")
    }
  }

  test("corpus_funnel: planted gates bite one stage each, counts exact, retention monotone") {
    val s = spark
    import s.implicits._
    // 60-word base sentence that PASSES every gopher gate (>=50 words,
    // sane word lengths, stopwords present, alphabetic, no symbols)
    val good = (1 to 56).map(i => s"word$i").mkString(
      "the data and ", " ", " of that have with be to")
    val nearTwin = good.split(" ").updated(10, "changedword").mkString(" ")
    val docs = Seq(
      (1L, good),                         // survives everything
      (2L, good),                         // exact clone of 1 → dies at exact_dedup
      (3L, nearTwin),                     // near-dup of 1 → dies at near_dedup
      (4L, Seq.fill(60)("#").mkString(" ")) // symbol spam → dies at gopher
    ).toDF("doc_id", "text")
    val dir = graft.Engine.scratchDir("funnel")
    docs.withColumn("source", lit("s0")).write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("corpus_funnel")(s, dir.toString)
      .collect().map(r => r.getAs[Long]("stage") ->
        ((r.getAs[String]("gate"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("docs_frac")))).toMap
    assert(rows(0L)._2 == 4L && rows(0L)._1 == "raw")
    assert(rows(1L)._2 == 3L, s"exact dedup must drop the clone: ${rows(1L)}")
    assert(rows(2L)._2 == 2L, s"near dedup must drop the twin: ${rows(2L)}")
    assert(rows(3L)._2 == 1L, s"gopher must drop the symbol spam: ${rows(3L)}")
    assert(rows(0L)._4 == 1.0 && rows(3L)._4 == 0.25)
    // tokens monotone non-increasing down the funnel
    val toks = (0L to 3L).map(rows(_)._3)
    assert(toks == toks.sorted.reverse, s"token funnel not monotone: $toks")
    // fixture sanity: every stage retains something at sf0.001 and the
    // final stage is strictly below raw (each gate is non-vacuous there)
    val fix = graft.SparkEntry.queries("corpus_funnel")(s, sf("sf0.001"))
      .collect().map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(fix(3L) > 0 && fix(3L) < fix(0L))
    assert((0L to 3L).map(fix(_)) == (0L to 3L).map(fix(_)).sorted.reverse)
  }

  test("decontaminate_bloom ≡ decontaminate (prefilter is invisible to the result)") {
    // the Bloom pass may only DROP work, never rows: false positives are
    // scrubbed by the exact verify join, false negatives cannot exist
    // (Bloom filters have none) — so the two ids must agree exactly.
    val dir = sf("sf0.001")
    val exact = graft.SparkEntry.queries("decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bloom = graft.SparkEntry.queries("decontaminate_bloom")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bloom == exact, "bloom-prefiltered survivors must equal the exact scrub")
    assert(exact.nonEmpty, "vacuous comparison: no train survivors at sf0.001")
  }

  test("stratified sample takes at most k per stratum, deterministically") {
    val q = graft.SparkEntry.queries("stratified_sample")
    val a = q(spark, sf("sf0.001")).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = q(spark, sf("sf0.001")).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(a.sameElements(b), "must be run-deterministic")
    a.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length <= 5, s"stratum $src over quota")
      assert(rows.map(_._2).sorted.sameElements(1L to rows.length), s"ranks not dense in $src")
    }
  }

  test("corpus_mix honors the per-shard token budget and admits a hash-order prefix") {
    val s = spark
    import s.implicits._
    val got = graft.SparkEntry.queries("corpus_mix")(s, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.map(_._4).max <= 500L, s"shard $src exceeded its token budget")
      // admitted docs must be a PREFIX of the shard's md5 order: the
      // maximum admitted cum equals the sum of admitted tokens
      assert(rows.map(_._3).sum == rows.map(_._4).max, s"shard $src admitted a non-prefix")
    }
    // and every source shard with at least one doc under budget is represented
    val docs = graft.Tables(s, sf("sf0.001")).documents
      .select(col("source")).distinct().as[String].collect().toSet
    assert(got.map(_._1).toSet.subsetOf(docs))
  }

  test("text_chunk invariants: stride-8/size-16 windows cover every word, halves overlap, per-doc reconstruction") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val chunks = graft.SparkEntry.queries("text_chunk")(s, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("n_chunk_words"), r.getAs[String]("chunk_text")))
    val docs = graft.Tables(s, dir).documents
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val words = docs(id).split(" ")
      val sorted = cs.sortBy(_._2)
      // chunk starts advance by exactly the stride; lengths = min(16, rest)
      sorted.foreach { case (_, idx, n, text) =>
        val start = idx.toInt * 8
        val expect = words.slice(start, start + 16)
        assert(text == expect.mkString(" "), s"doc $id chunk $idx")
        assert(n == expect.length)
      }
      // coverage: the EVEN-indexed (non-overlapping) chunks reassemble
      // the doc exactly — stride 8 with size 16 means every word is in
      // 1-2 chunks and the even subsequence tiles the text
      val tiled = sorted.filter(_._2 % 2 == 0).map(_._4).mkString(" ")
      assert(tiled == docs(id), s"doc $id tiling broken")
    }
  }

  test("text_repetition scores a repeated doc above a diverse one") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),     // one bigram repeated 5x
      (2L, "one two three four five six"),        // all bigrams distinct
      (3L, "single")                              // no bigrams -> excluded
    ).toDF("doc_id", "text")
    val got = graft.Engine.spread(docs, "doc_id")
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(Curation.bigrams(col("text"))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum(col("n")).cast("long").as("n_2grams"), max(col("n")).cast("long").as("max_rep"))
      .withColumn("rep_ratio", col("max_rep").cast("double") / col("n_2grams"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((5L, 5L, 1.0)))
    assert(got(2L) == ((5L, 1L, 0.2)))
    assert(!got.contains(3L))
  }

  test("text_diversity: distinct-n counts and ratios, sub-n docs yield empty sets and null ratios") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a a a"),          // 3 bigrams all equal; 2 trigrams all equal
      (2L, "a b c d"),          // all grams distinct
      (3L, "a b a b a"),        // bigrams {a b, b a} ×2; trigrams {aba, bab}
      (4L, "a b"),              // bigram but no trigram
      (5L, "solo")              // neither
    ).toDF("doc_id", "text")
    val got = Curation.textDiversity(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def row(id: Long) = {
      val r = got(id)
      (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getLong(4), r.getLong(5), Option(r.get(6)).map(_.asInstanceOf[Double]))
    }
    assert(row(1L) == ((3L, 1L, Some(0.333333), 2L, 1L, Some(0.5))))
    assert(row(2L) == ((3L, 3L, Some(1.0), 2L, 2L, Some(1.0))))
    assert(row(3L) == ((4L, 2L, Some(0.5), 3L, 2L, Some(0.666667))))
    assert(row(4L) == ((1L, 1L, Some(1.0), 0L, 0L, None)))
    assert(row(5L) == ((0L, 0L, None, 0L, 0L, None)))
  }

  test("source_overlap: symmetric pair matrix, counts shared distinct shingles, self-pairs excluded") {
    val got = graft.SparkEntry.queries("source_overlap")(spark, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    // canonical ordering: every key has s1 < s2, so no self/mirror pairs
    assert(got.keys.forall { case (a, b) => a < b })
    // spot-verify one pair against a direct distinct-shingle intersection
    val ((a, b), n) = got.head
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    def shingleSet(src: String) =
      NearDedup.shingleArrays(docs.filter(col("source") === src))
        .select(explode(col("sh")).as("ng")).distinct()
        .collect().map(_.getString(0)).toSet
    assert(shingleSet(a).intersect(shingleSet(b)).size.toLong == n)
  }

  test("vocab_coverage: cumulative fraction is monotone and ends at the top-50 token share") {
    val rows = graft.SparkEntry.queries("vocab_coverage")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).toSeq == (1L to rows.length))
    // counts are non-increasing in rank; cum_frac strictly increases to ≤1
    assert(rows.toSeq.sliding(2).forall {
      case Seq(x, y) => x._3 >= y._3 && x._4 < y._4
      case _ => true
    })
    assert(rows.last._4 <= 1.0 + 1e-9)
    // the synthetic fixture vocabulary is tiny, so top-50 covers it all
    assert(math.abs(rows.last._4 - 1.0) < 1e-6)
  }

  test("tfidf_topk: corpus-wide terms score zero, rarer terms outrank common ones") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "alpha beta common"), (1L, "alpha gamma common"),
      (2L, "delta gamma common")).toDF("doc_id", "text")
    // replicate the operator inline on a planted corpus (queries() is
    // fixture-bound; semantics are what this spec pins)
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    val top = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // 'common' is in every doc → idf ln(1)=0; the unique term wins each doc
    assert(top == Map(0L -> "beta", 1L -> "alpha", 2L -> "delta"))
    // and the real fixture-bound query returns exactly 3 ranked rows per doc
    val real = graft.SparkEntry.queries("tfidf_topk")(spark, sf("sf0.001"))
    val perDoc = real.groupBy("doc_id").agg(count(lit(1)).as("k"), max(col("rank")).as("mx"))
      .collect()
    assert(perDoc.forall(r => r.getAs[Long]("k") == 3L && r.getAs[Long]("mx") == 3L))
  }

  test("pii_redact: masks emails and digit runs, counts every hit, leaves clean text alone") {
    val s = spark
    import s.implicits._
    // the fixture's props only exercise the digit branch; pin the email
    // branch (and the no-op path) on planted rows with the SAME pattern
    // constant the query uses
    val rows = Seq(
      "contact bob.smith+x@example.org or call 5551234",
      "no pii here at all",
      "ids 42 and 977, mail a@b.co").toDF("t")
      .select(
        regexp_replace(col("t"), Curation.piiPattern, "<PII>").as("red"),
        size(regexp_extract_all(col("t"), lit(Curation.piiPattern), lit(0)))
          .as("n"))
      .collect()
    assert(rows(0).getAs[String]("red") == "contact <PII> or call <PII>")
    assert(rows(0).getAs[Int]("n") == 2)
    assert(rows(1).getAs[String]("red") == "no pii here at all")
    assert(rows(1).getAs[Int]("n") == 0)
    assert(rows(2).getAs[String]("red") == "ids <PII> and <PII>, mail <PII>")
    assert(rows(2).getAs[Int]("n") == 3)
    // fixture-bound: every props row contains a digit run, so n_pii ≥ 1
    // everywhere (non-vacuous on the real input)
    val real = graft.SparkEntry.queries("pii_redact")(s, sf("sf0.001"))
    assert(real.filter(col("n_pii") < 1).count() == 0)
    assert(real.filter(col("redacted").contains("<PII>")).count() == real.count())
  }

  test("dup_ngram_rate: planted duplicate text scores 1.0, unique text 0.0") {
    val s = spark
    import s.implicits._
    // replicate the operator's definition inline on a planted corpus:
    // docs 0/1 share ALL their shingles (identical text), doc 2 shares
    // none — dup_frac must be exactly 1, 1, 0
    val docs = Seq(
      (0L, "w1 w2 w3 w4"), (1L, "w1 w2 w3 w4"),
      (2L, "u1 u2 u3 u4 u5")).toDF("doc_id", "text")
    val sh = NearDedup.shingleArrays(docs)
      .select(col("doc_id"), explode(col("sh")).as("ng"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ng"))
    val got = sh.withColumn("df", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg((sum(when(col("df") >= 2, 1L).otherwise(0L)) /
        count(lit(1)).cast("double")).as("dup_frac"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_frac")).toMap
    assert(got == Map(0L -> 1.0, 1L -> 1.0, 2L -> 0.0))
    // fixture-bound sanity: rates are valid fractions over >0 shingles
    val real = graft.SparkEntry.queries("dup_ngram_rate")(s, sf("sf0.001"))
    assert(real.filter(col("dup_frac") < 0 || col("dup_frac") > 1 || col("n_ng") < 1).count() == 0)
  }

  test("boilerplate_lines drops >=K-doc chunks everywhere, keeps <K, preserves order") {
    val s = spark
    import s.implicits._
    // "cookie banner text" is planted in 4 docs (>= K=3 → boilerplate);
    // "twice only chunk" in exactly 2 (< K → survives); doc 5 is PURE
    // boilerplate (must come back as an empty, not missing, row); doc 7
    // has a non-aligned 1-word tail chunk.
    val docs = Seq(
      (1L, "aa bb cc cookie banner text dd ee ff"),
      (2L, "cookie banner text gg hh ii"),
      (3L, "jj kk ll mm nn oo cookie banner text"),
      (4L, "pp qq rr twice only chunk"),
      (5L, "cookie banner text"),
      (6L, "twice only chunk"),
      (7L, "xx yy zz ww")).toDF("doc_id", "text")
    val got = Curation.removeBoilerplate(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("aa bb cc dd ee ff", 3L, 1L)), s"middle removal broke order: ${got(1L)}")
    assert(got(2L) == (("gg hh ii", 2L, 1L)))
    assert(got(3L) == (("jj kk ll mm nn oo", 3L, 1L)))
    assert(got(4L) == (("pp qq rr twice only chunk", 2L, 0L)), "2-doc chunk must survive")
    assert(got(5L) == (("", 1L, 1L)), "all-boilerplate doc must yield an empty row, not vanish")
    assert(got(6L) == (("twice only chunk", 1L, 0L)))
    assert(got(7L) == (("xx yy zz ww", 2L, 0L)), "ragged tail chunk must round-trip")
  }

  test("dedup_lines keeps only the FIRST occurrence of a repeated chunk (doc order, then position)") {
    val s = spark
    import s.implicits._
    // "cookie banner text" repeats across docs 1/2/5 AND twice inside
    // doc 8 — only its (doc 1, pos 1) copy may survive; "twice only
    // chunk" (2 docs) is BELOW boilerplate's K=3 threshold yet must
    // still lose its second copy here (the semantics boilerplate_lines
    // cannot express); doc 5 becomes empty-but-present; doc 7 is all
    // unique and round-trips including the ragged tail.
    val docs = Seq(
      (1L, "aa bb cc cookie banner text dd ee ff"),
      (2L, "cookie banner text gg hh ii"),
      (4L, "pp qq rr twice only chunk"),
      (5L, "cookie banner text"),
      (6L, "twice only chunk"),
      (7L, "xx yy zz ww"),
      (8L, "cookie banner text cookie banner text")).toDF("doc_id", "text")
    val got = Curation.dedupLines(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("aa bb cc cookie banner text dd ee ff", 3L, 0L)),
      s"first occurrence must keep ALL chunks: ${got(1L)}")
    assert(got(2L) == (("gg hh ii", 2L, 1L)), "cross-doc second copy must be scrubbed")
    assert(got(4L) == (("pp qq rr twice only chunk", 2L, 0L)),
      "first occurrence of the 2-doc chunk survives")
    assert(got(5L) == (("", 1L, 1L)), "doc reduced to nothing must stay present as empty")
    assert(got(6L) == (("", 1L, 1L)), "below-boilerplate-threshold repeat must STILL dedup")
    assert(got(7L) == (("xx yy zz ww", 2L, 0L)), "unique doc round-trips")
    assert(got(8L) == (("", 2L, 2L)), "within-doc repeat of an earlier doc's chunk: both scrubbed")
  }

  test("admitLines: in-order batch chain reproduces one-shot dedup_lines exactly; re-admission scrubs fully and grows no state") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables(s, sf("sf0.001")).documents.select("doc_id", "text")
    val oneShot = Curation.dedupLines(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // three doc-ordered batches (id RANGES — a % split would interleave
    // ids and break the arrival-order premise) folded through admission
    var owned = docs.limit(0).select((col("doc_id") * 0).as("ck"))
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    val ranges = Seq(
      docs.filter(col("doc_id") < cut1),
      docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
      docs.filter(col("doc_id") >= cut2))
    val chained = ranges.flatMap { batch =>
      val (out, fresh) = Curation.admitLines(batch, owned)
      owned = owned.unionByName(fresh).persist()
      out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    }.toSet
    assert(chained == oneShot, "in-doc-order incremental admission must equal the one-shot scrub")
    // re-admitting an already-admitted batch: every chunk is owned →
    // fully scrubbed output, and the state gains nothing
    val (reOut, reFresh) = Curation.admitLines(ranges(1), owned)
    assert(reFresh.isEmpty, "re-admission must own no new lines")
    reOut.collect().foreach { r =>
      assert(r.getLong(2) == r.getLong(3) && r.getString(1).isEmpty,
        s"re-admitted doc must scrub to empty: $r")
    }
  }

  test("streaming line scrub: state accumulates across batches and restarts, redelivery-safe") {
    val s = spark
    import s.implicits._
    val in = java.nio.file.Files.createTempDirectory("ls-in")
    val state = java.nio.file.Files.createTempDirectory("ls-st").resolve("t").toString
    val chk = java.nio.file.Files.createTempDirectory("ls-chk").toString
    def line(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val feed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in.toString)
      Curation.admitLinesStream(feed, state, chk).awaitTermination()
    }
    // batch 1: doc 1 owns its lines; doc 2 repeats doc 1's first chunk
    java.nio.file.Files.write(in.resolve("a-0.json"), String.join("\n",
      line(1, "aa bb cc dd ee ff"),
      line(2, "aa bb cc xx yy zz")).getBytes)
    run()
    def live = Store.live(s, state).get
    def outRows = s.read.parquet(s"$live/out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed")))).toMap
    assert(outRows(1L) == (("aa bb cc dd ee ff", 0L)))
    assert(outRows(2L) == (("xx yy zz", 1L)), "in-batch repeat must scrub")
    // batch 2 (restart, same checkpoint): REDELIVERED doc 2 (guard — its
    // out row must not change or duplicate), doc 3 repeating an owned
    // chunk from batch 1, and a fresh doc 4
    java.nio.file.Files.write(in.resolve("b-0.json"), String.join("\n",
      line(2, "aa bb cc xx yy zz"),
      line(3, "dd ee ff qq rr ss"),
      line(4, "totally new content here")).getBytes)
    run()
    val out2 = outRows
    assert(s.read.parquet(s"$live/out").filter(col("doc_id") === 2L).count() == 1,
      "redelivered doc must not emit a second output row")
    assert(out2(2L) == (("xx yy zz", 1L)), "redelivery must not alter the original scrub")
    assert(out2(3L) == (("qq rr ss", 1L)), "cross-batch owned chunk must scrub")
    assert(out2(4L) == (("totally new content here", 0L)))

    // compaction works on the lines-state layout too: fewer files,
    // identical state, and the fold keeps going afterwards
    def parts(d: String): Int = {
      val f = new java.io.File(d)
      if (!f.isDirectory) 0 else f.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val before = parts(s"$live/out") + parts(s"$live/owned")
    graft.llm.NearDedup.compactAdmissionState(s, state)
    assert(parts(s"$live/out") + parts(s"$live/owned") < before,
      s"lines-state compaction must reduce files (was $before)")
    assert(outRows == out2, "compaction must not change the scrub output")
    java.nio.file.Files.write(in.resolve("c-0.json"), String.join("\n",
      line(5, "aa bb cc pp qq rr")).getBytes)
    run()
    assert(outRows(5L) == (("pp qq rr", 1L)),
      "post-compaction fold must still scrub against the owned state")
  }

  test("mix_rates: no upsampling, the binding source saturates, sampled mass realizes the target mix") {
    val rows = graft.SparkEntry.queries("mix_rates")(spark, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, _, w, rate, _) =>
      assert(rate <= 1.0 + 1e-9, s"$src upsampled: rate=$rate")
      assert(w > 0 && w < 1)
    }
    assert(rows.exists { case (_, _, _, rate, _) => rate >= 1.0 - 1e-6 },
      "some source must bind (rate = 1) — otherwise T* wasn't maximal")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9, "weights must normalize")
    // realized mix ≡ target mix: sampled_s / Σ sampled = weight_s
    val total = rows.map(_._5).sum
    rows.foreach { case (src, _, w, _, sampled) =>
      assert(math.abs(sampled / total - w) < 1e-4, s"$src realized ${sampled / total} vs target $w")
    }
    // sampling never exceeds availability
    rows.foreach { case (src, avail, _, _, sampled) =>
      assert(sampled <= avail + 0.5, s"$src sampled $sampled of $avail")
    }
  }

  test("text_compress_ratio orders repetitive < prose < high-entropy; empty text yields null") {
    val s = spark
    import s.implicits._
    val repetitive = Seq.fill(200)("spam").mkString(" ")
    val prose = (0 until 200).map(i => s"word${i % 37} and the value ${i % 11}").mkString(" ")
    // deterministic pseudo-random alnum junk (base64-shaped payload)
    val junk = {
      val sb = new StringBuilder; var x = 1234567891L
      while (sb.length < 800) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(java.lang.Long.toUnsignedString(x, 36))
      }
      sb.toString.take(800)
    }
    val docs = Seq((1L, repetitive), (2L, prose), (3L, junk), (4L, ""))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("deflate").toFile
    dir.deleteOnExit()
    docs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = graft.SparkEntry.queries("text_compress_ratio")(s, dir.getAbsolutePath)
      .collect().map(r => r.getLong(0) -> r).toMap
    val (rRep, rProse, rJunk) =
      (got(1L).getDouble(3), got(2L).getDouble(3), got(3L).getDouble(3))
    assert(rRep < rProse && rProse < rJunk,
      s"ordering violated: rep=$rRep prose=$rProse junk=$rJunk")
    assert(rRep < 0.1, s"repeated token must compress away: $rRep")
    assert(rJunk > 0.5, s"high-entropy payload must resist compression: $rJunk")
    assert(got(4L).isNullAt(3), "empty text must yield null ratio, not a division error")
    // the expression agrees with an independent in-JVM Deflater run
    val d = new java.util.zip.Deflater()
    d.setInput(prose.getBytes("UTF-8")); d.finish()
    val buf = new Array[Byte](1 << 16)
    var expect = 0L
    while (!d.finished()) expect += d.deflate(buf)
    d.end()
    assert(got(2L).getLong(2) == expect, "deflate_size must match a fresh JDK Deflater")
  }

  test("gopher_rules: each gate fires independently and keep is their conjunction") {
    val s = spark
    import s.implicits._
    val longText = Seq.fill(60)("the good and solid text of that have with").mkString(" ")
    val docs = Seq(
      // 10 words (mean length 3.5), has stopwords → fails ONLY word count
      (1L, "the cats sat upon of the mats and then slept"),
      // symbol-heavy: every "word" is a # → fails symbol + alpha + stop
      (2L, Seq.fill(60)("#").mkString(" ")),
      // long alphabetic text with stopwords → passes everything
      (3L, longText),
      // no stopwords but otherwise fine length → fails only stop gate
      (4L, Seq.fill(60)("word").mkString(" ")),
      // mean word length 1 (< 3) → fails mwl
      (5L, Seq.fill(60)("a").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("gopher").toFile
    dir.deleteOnExit()
    docs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    // the other fixture tables aren't read by this id; only documents is
    val got = graft.SparkEntry.queries("gopher_rules")(s, dir.getAbsolutePath)
      .collect().map(r => r.getLong(0) -> r).toMap
    def gates(id: Long) = {
      val r = got(id)
      (r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9),
        r.getBoolean(10), r.getBoolean(11))
    }
    assert(gates(1L) == ((false, true, true, true, true, false)), s"doc1 ${gates(1L)}")
    assert(gates(2L) == ((true, false, false, false, false, false)), s"doc2 ${gates(2L)}")
    assert(gates(3L) == ((true, true, true, true, true, true)), s"doc3 ${gates(3L)}")
    assert(gates(4L) == ((true, true, true, true, false, false)), s"doc4 ${gates(4L)}")
    assert(gates(5L) == ((true, false, true, true, false, false)), s"doc5 ${gates(5L)}")
    // keep ≡ conjunction, re-checked mechanically over all rows
    got.values.foreach { r =>
      assert(r.getBoolean(11) == (r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8)
        && r.getBoolean(9) && r.getBoolean(10)))
    }
  }

  test("seq_pack_split: every non-final bin holds exactly cap tokens; pieces partition each doc") {
    val s0 = spark
    import s0.implicits._
    val cap = 512L
    val rows = graft.SparkEntry.queries("seq_pack_split")(s0, sf("sf0.001"))
      .select("source", "doc_id", "n_tokens", "bin", "piece_idx", "tok_start", "tok_end", "piece_len")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // hard cap: within each source, every bin except the LAST sums to cap
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byBin = rs.groupBy(_._4).view.mapValues(_.map(_._8).sum).toMap
      val last = byBin.keys.max
      byBin.foreach { case (bin, tot) =>
        if (bin != last) assert(tot == cap, s"$src bin $bin holds $tot tokens, cap is $cap")
        else assert(tot >= 1 && tot <= cap, s"$src final bin overfull: $tot")
      }
      // bins are dense from 0 (concat-then-chunk leaves no gaps)
      assert(byBin.keys.toSeq.sorted == (0L to last), s"$src has bin gaps")
    }
    // pieces partition [0, n_tokens) in bin order, no overlap, no loss
    rows.groupBy(r => (r._1, r._2)).foreach { case ((src, id), ps) =>
      val sorted = ps.sortBy(_._5)
      assert(sorted.head._6 == 0L, s"$src/$id first piece must start at 0")
      assert(sorted.last._7 == sorted.head._3, s"$src/$id last piece must end at n_tokens")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._7 == b._6, s"$src/$id pieces not contiguous")
          assert(b._4 == a._4 + 1, s"$src/$id bins not consecutive")
        case _ => ()
      }
      sorted.foreach(p => assert(p._8 == p._7 - p._6 && p._8 >= 1))
    }
    // only boundary-straddling docs split; a doc's piece count is
    // ceil((offset-within-bin + n)/cap)
    val multi = rows.groupBy(r => (r._1, r._2)).filter(_._2.length > 1)
    assert(multi.nonEmpty, "fixture should contain straddling docs")
  }
  test("decon_overlap agrees with the exact scrub and grades by ratio") {
    val s0 = spark
    import s0.implicits._
    val ov = graft.SparkEntry.queries("decon_overlap")(s0, sf("sf0.001"))
      .select("doc_id", "n_grams", "n_hit", "overlap_ratio", "contaminated")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(ov.nonEmpty)
    ov.foreach { case (id, n, h, r, c) =>
      assert(n >= 1 && h >= 0 && h <= n, s"doc $id counts")
      assert(math.abs(r - h.toDouble / n) < 1e-12, s"doc $id ratio")
      assert(c == (h * 5 >= n), s"doc $id flag must be the 20% integer-form rule")
    }
    // cross-id consistency: `decontaminate` drops a (shingled) train doc
    // iff it has ANY eval hit — so its survivors among shingled docs are
    // exactly the n_hit == 0 set here
    val survivors = graft.SparkEntry.queries("decontaminate")(s0, sf("sf0.001"))
      .select("doc_id").as[Long].collect().toSet
    val shingled = ov.map(_._1).toSet
    assert(shingled.filter(id => survivors.contains(id)) == ov.filter(_._3 == 0L).map(_._1).toSet,
      "decon_overlap's zero-hit set must equal the exact scrub's surviving shingled docs")
    // and the graded view must be strictly richer than the binary one
    assert(ov.exists(o => o._3 > 0 && !o._5),
      "fixture should contain sub-threshold contamination the binary scrub would drop")
  }

  test("mix_temperature flattens the natural source distribution, no source upsampled") {
    val s0 = spark
    import s0.implicits._
    val rows = graft.SparkEntry.queries("mix_temperature")(s0, sf("sf0.001"))
      .select("source", "n_tokens", "weight", "rate", "sampled_tokens")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(rows.length >= 2)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "weights must normalize")
    rows.foreach { case (src, _, w, r, st) =>
      assert(w > 0 && r > 0 && r <= 1.0 + 1e-9, s"$src rate must be a no-upsampling fraction")
      assert(st >= 0, src)
    }
    // the binding source samples at rate 1
    assert(rows.exists(r => math.abs(r._4 - 1.0) < 1e-6), "some source must bind at rate 1")
    // alpha = 0.3 flattening: weight ratios are strictly compressed
    // relative to token-mass ratios for every unequal pair
    for (a <- rows; b <- rows if a._2 > b._2 * 1.05) {
      val natural = a._2.toDouble / b._2
      val scaled = a._3 / b._3
      assert(scaled < natural && scaled > 1.0,
        s"${a._1}/${b._1}: temperature must compress $natural toward 1, got $scaled")
    }
  }

  test("winnowing: detection guarantee, rightmost ties, fingerprint intersection finds planted overlap") {
    val s0 = spark
    import s0.implicits._
    // rightmost-tie rule on an all-equal window: 6 tokens -> 4 identical
    // grams -> one window, min ties everywhere -> position 4 selected
    val tie = TextOps.winnowFingerprints(Seq((1L, "x x x x x x")).toDF("doc_id", "text"))
      .select("pos").as[Long].collect().toSeq
    assert(tie == Seq(4L), s"rightmost-tie rule broken: $tie")

    // detection guarantee on the real corpus: consecutive selected
    // positions never gap by more than the window size, the first
    // selection lands inside the first window and the last inside the
    // final one — every 4-gram run contributes a fingerprint
    val fps = graft.SparkEntry.queries("fingerprint_winnow")(s0, sf("sf0.001"))
      .select("doc_id", "pos").as[(Long, Long)].collect()
    val nGrams = graft.Tables(s0, sf("sf0.001")).documents
      .select(col("doc_id"), (size(split(col("text"), " ")) - 2).cast("long").as("m"))
      .filter(col("m") >= 4).as[(Long, Long)].collect().toMap
    assert(fps.map(_._1).toSet == nGrams.keySet, "every eligible doc must fingerprint")
    fps.groupBy(_._1).foreach { case (id, ps) =>
      val sorted = ps.map(_._2).sorted
      assert(sorted.head <= 4 && sorted.last >= nGrams(id) - 3, s"doc $id edge coverage")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b - a <= 4, s"doc $id: gap ${b - a} > window")
        case _ => ()
      }
    }

    // two docs sharing a >= 6-token run MUST share a fingerprint hash —
    // the MOSS use case the guarantee exists for
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val planted = Seq(
      (10L, s"one two three four five six seven $shared"),
      (11L, s"$shared red orange yellow green blue indigo")).toDF("doc_id", "text")
    val pf = TextOps.winnowFingerprints(planted)
      .select("doc_id", "h").as[(Long, Long)].collect()
    val inter = pf.filter(_._1 == 10L).map(_._2).toSet
      .intersect(pf.filter(_._1 == 11L).map(_._2).toSet)
    assert(inter.nonEmpty, "planted 7-token overlap produced no shared fingerprint")
  }

  test("dedup_winnow: planted shared run pairs up, strangers stay unpaired, scores are true fractions") {
    val s0 = spark
    import s0.implicits._
    // planted corpus written as a documents.parquet drop-in: docs 10/11
    // share a 16-token run (>= 2 guaranteed fingerprints at density
    // 2/(w+1)); doc 12 shares nothing
    val run = (1 to 16).map(i => s"shared$i").mkString(" ")
    val planted = Seq(
      (10L, s"one two three four five six $run"),
      (11L, s"$run red orange yellow green blue indigo violet"),
      (12L, "totally different words nothing in common here at all twelve"))
      .toDF("doc_id", "text")
    val dir = graft.Engine.scratchDir("winnowpair")
    planted.write.parquet(s"$dir/documents.parquet")
    val pairs = graft.SparkEntry.queries("dedup_winnow")(s0, dir.toString)
      .select("doc1", "doc2", "n_shared", "containment")
      .as[(Long, Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((10L, 11L)),
      s"expected exactly the planted pair, got ${pairs.toSeq}")
    val (_, _, ns, ct) = pairs.head
    assert(ns >= 2, s"16-token shared run must share >= 2 fingerprints, got $ns")
    assert(ct > 0.0 && ct <= 1.0, s"containment must be a true fraction, got $ct")

    // corpus invariants at sf0.001: ordered pairs, counts within bounds
    val real = graft.SparkEntry.queries("dedup_winnow")(s0, sf("sf0.001"))
      .select("doc1", "doc2", "n_shared", "containment")
      .as[(Long, Long, Long, Double)].collect()
    assert(real.nonEmpty, "fixture corpus should contain winnow pairs")
    real.foreach { case (a, b, n, c) =>
      assert(a < b, s"pair ($a,$b) not ordered")
      assert(n >= 2 && c > 0.0 && c <= 1.0, s"pair ($a,$b): n=$n c=$c")
    }
  }

  test("winnowing matches an independent in-JVM reference on randomized corpora") {
    val s0 = spark
    import s0.implicits._
    // textbook winnowing, re-implemented from the paper with none of the
    // engine's HOF machinery: gram hashes (the portable md5-14-hex
    // convention), window-of-4 minima, rightmost ties, dedup
    def naiveWinnow(text: String): Seq[(Long, Long)] = {
      val ws = text.split(" ", -1)
      if (ws.length < 6) return Seq.empty
      val hs = (0 until ws.length - 2).map { i =>
        val g = s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}"
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(md.substring(0, 14), 16)
      }
      val sel = (0 until hs.length - 3).map { j =>
        val win = hs.slice(j, j + 4)
        val mn = win.min
        val pos = j + (0 until 4).filter(k => hs(j + k) == mn).max
        (pos + 1L, mn) // engine positions are 1-based
      }
      sel.distinct
    }
    val rnd = new scala.util.Random(0xBEEF)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "repeat", "data", "x1", "y2")
    val docs = (0L until 40L).map { id =>
      val n = 3 + rnd.nextInt(60) // include sub-window docs (must emit nothing)
      (id, Vector.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val got = TextOps.winnowFingerprints(docs.toDF("doc_id", "text"))
      .select("doc_id", "pos", "h").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    docs.foreach { case (id, text) =>
      val want = naiveWinnow(text).toSet
      val have = got.getOrElse(id, Set.empty)
      assert(have == want, s"doc $id diverged from the reference winnow")
    }
    // the tiny vocab guarantees repeated grams, so the rightmost-tie and
    // dedup branches really execute on this corpus
    assert(docs.exists { case (_, t) =>
      val ws = t.split(" "); ws.length >= 6 &&
        (0 until ws.length - 2).map(i => (ws(i), ws(i+1), ws(i+2))).distinct.size < ws.length - 2
    }, "random corpus never repeated a gram — tie branches untested")
  }

  /** Textbook winnowing at arbitrary (w, k) — the generalized reference
    * for the parameterized surface (round 14): gram hashes via the
    * portable md5-14-hex convention, window-of-w minima, rightmost
    * ties, dedup. 1-based positions like the engine.
    */
  private def naiveWinnowWK(text: String, w: Int, k: Int): Set[(Long, Long)] = {
    val ws = text.split(" ", -1)
    if (ws.length < w + k - 1) return Set.empty
    val hs = (0 to ws.length - k).map { i =>
      val g = (i until i + k).map(ws).mkString(" ")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 14), 16)
    }
    (0 to hs.length - w).map { j =>
      val win = hs.slice(j, j + w)
      val mn = win.min
      val pos = j + (0 until w).filter(kk => hs(j + kk) == mn).max
      (pos + 1L, mn)
    }.toSet
  }

  test("winnowing (w, k) surface: reference parity and the t = w+k-1 guarantee at a non-default setting") {
    val s0 = spark
    import s0.implicits._
    val rnd = new scala.util.Random(0xD00D)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (0L until 30L).map { id =>
      val n = 4 + rnd.nextInt(50)
      (id, Vector.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // parity with the independent reference at TWO settings — the
    // default (4,3) and a non-default (5,4); a literal left behind by
    // the parameterization would fail exactly one of them
    for ((w, k) <- Seq((4, 3), (5, 4))) {
      val got = TextOps.winnowFingerprints(docs.toDF("doc_id", "text"), w, k)
        .select("doc_id", "pos", "h").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      docs.foreach { case (id, text) =>
        assert(got.getOrElse(id, Set.empty) == naiveWinnowWK(text, w, k),
          s"doc $id diverged from the reference at (w=$w, k=$k)")
      }
    }
    // property sweep across the whole (w, k) grid the surface admits in
    // practice: one mixed corpus (short/sub-window docs included — the
    // totality-guard path), engine ≡ reference at every setting
    for (w <- 2 to 6; k <- 1 to 4) {
      val sweep = Seq(
        (100L, "a"), (101L, "a b"), (102L, "a b c d e"),
        (103L, Vector.fill(12)("a b c").mkString(" ")),
        (104L, (1 to 17).map(i => s"u$i").mkString(" ")))
      val got = TextOps.winnowFingerprints(sweep.toDF("doc_id", "text"), w, k)
        .select("doc_id", "pos", "h").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      sweep.foreach { case (id, text) =>
        assert(got.getOrElse(id, Set.empty) == naiveWinnowWK(text, w, k),
          s"doc $id diverged at (w=$w, k=$k)")
      }
    }

    // detection guarantee at (5,4): t = 8 — two docs sharing an
    // 8-token run MUST share a fingerprint at that setting (and a
    // sub-t run of 7 tokens comes with no such promise: the same
    // planted pair at (w=6,k=4), t=9, is allowed to miss)
    val run8 = (1 to 8).map(i => s"shared$i").mkString(" ")
    val planted = Seq(
      (20L, s"one two three four five $run8"),
      (21L, s"$run8 red orange yellow green blue")).toDF("doc_id", "text")
    val pf = TextOps.winnowFingerprints(planted, w = 5, k = 4)
      .select("doc_id", "h").as[(Long, Long)].collect()
    val inter = pf.filter(_._1 == 20L).map(_._2).toSet
      .intersect(pf.filter(_._1 == 21L).map(_._2).toSet)
    assert(inter.nonEmpty, "shared t-token run produced no fingerprint at (5,4)")
  }

  test("admitOverlap: contamination gate thresholds correctly, chains equal one-shot, redelivery-safe") {
    val s0 = spark
    import s0.implicits._
    // eval index: the shingle hashes of one eval doc (the same 56-bit
    // convention as evalNgHashes — built through the engine's own
    // shingle+hash pipeline so the spec can't drift from it)
    val evalDoc = Seq((900L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val evalIdx = NearDedup.shingleArrays(evalDoc)
      .select(explode(col("sh")).as("ng"))
      .select(graft.llm.Sampling.hashBucket(col("ng"), hexDigits = 14).as("h"))
      .distinct()
    // doc 1: 8 of its shingles are eval shingles (>= 20% of ~28) ->
    // rejected; doc 2: zero overlap -> admitted; doc 3: one shared
    // 3-word shingle in a 50-word doc (~2%) -> admitted; doc 4: two
    // words, no shingles -> no evidence, admitted
    val longPad = (1 to 20).map(i => s"pad$i").mkString(" ")
    val batch = Seq(
      (1L, s"the quick brown fox jumps over the lazy dog tonight again"),
      (2L, s"completely unrelated text $longPad"),
      (3L, s"the quick brown cat $longPad " + (21 to 45).map(i => s"x$i").mkString(" ")),
      (4L, "two words")).toDF("doc_id", "text")
    val admitted = Curation.admitOverlap(batch, evalIdx)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L, 3L, 4L), s"gate verdicts wrong: $admitted")

    // statelessness makes chains trivially equal one-shot — pin it
    // anyway (the property the incremental family is USED for), plus
    // the durable fold's redelivery guard
    val base = java.nio.file.Files.createTempDirectory("overlap-admit").toString
    val oneShot = Curation.admitOverlap(batch, evalIdx).select("doc_id").as[Long].collect().toSet
    val b1 = batch.filter(col("doc_id") <= 2)
    val b2 = batch.filter(col("doc_id") > 2)
    Curation.admitOverlapToState(b1, evalIdx, s"$base/st")
    Curation.admitOverlapToState(b2, evalIdx, s"$base/st")
    def outIds() = s0.read.parquet(s"$base/st/out").select("doc_id").as[Long].collect().toSeq
    assert(outIds().toSet == oneShot, "batch chain diverged from one-shot")
    // redelivery of batch 1: out/ must not grow or duplicate
    Curation.admitOverlapToState(b1, evalIdx, s"$base/st")
    val after = outIds()
    assert(after.size == after.distinct.size && after.toSet == oneShot,
      "redelivered batch duplicated state")
  }

  test("streaming contamination gate: verdicts hold across batches and restarts, redelivery-safe") {
    val s = spark
    import s.implicits._
    val in = java.nio.file.Files.createTempDirectory("og-in")
    val state = java.nio.file.Files.createTempDirectory("og-st").resolve("t").toString
    val chk = java.nio.file.Files.createTempDirectory("og-chk").toString
    val evalIdx = NearDedup.shingleArrays(
      Seq((900L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text"))
      .select(explode(col("sh")).as("ng"))
      .select(graft.llm.Sampling.hashBucket(col("ng"), hexDigits = 14).as("h"))
      .distinct().localCheckpoint()
    def line(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val feed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in.toString)
      Curation.admitOverlapStream(feed, evalIdx, state, chk).awaitTermination()
    }
    val pad = (1 to 20).map(i => s"pad$i").mkString(" ")
    // batch 1: doc 1 is a near-copy of the eval doc (rejected), doc 2
    // clean (admitted)
    java.nio.file.Files.write(in.resolve("a-0.json"), String.join("\n",
      line(1, "the quick brown fox jumps over the lazy dog tonight again"),
      line(2, s"completely unrelated text $pad")).getBytes)
    run()
    def outIds = s.read.parquet(s"$state/out").select("doc_id").as[Long].collect().toSeq
    assert(outIds.toSet == Set(2L), s"batch 1 verdicts: $outIds")
    // batch 2 (restart, same checkpoint): REDELIVERED doc 2 plus a fresh
    // clean doc 3 — the guard must not duplicate doc 2's row
    java.nio.file.Files.write(in.resolve("b-0.json"), String.join("\n",
      line(2, s"completely unrelated text $pad"),
      line(3, s"more clean material $pad here")).getBytes)
    run()
    val after = outIds
    assert(after.size == after.distinct.size && after.toSet == Set(2L, 3L),
      s"batch 2 state: $after")
  }

  test("text_repetition_full: every Gopher signal matches an independent reference, gates fire per-signal") {
    val s0 = spark
    import s0.implicits._
    // independent re-implementation of the Rae et al. App. A battery
    // over plain Scala collections — none of the engine's tagged-explode
    // machinery
    def refSignals(text: String): Map[String, Option[Double]] = {
      val ws = text.split(" ", -1).toSeq
      val nChars = text.length
      def chunks(cw: Int): Seq[String] =
        (0 until math.ceil(ws.length / cw.toDouble).toInt)
          .map(i => ws.slice(i * cw, i * cw + cw).mkString(" "))
      def grams(n: Int): Seq[String] =
        if (ws.length >= n) (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" "))
        else Seq.empty
      def counts(us: Seq[String]) = us.groupBy(identity).view.mapValues(_.size.toLong).toMap
      def dupFrac(us: Seq[String]) =
        Some((us.size - counts(us).size).toDouble / us.size)
      def dupChar(us: Seq[String]) =
        if (us.isEmpty || nChars == 0) None // no units -> signal undefined (NULL), like topChar
        else Some(counts(us).collect { case (g, c) if c >= 2 => c * g.length }.sum.toDouble / nChars)
      def topChar(us: Seq[String]) =
        if (us.isEmpty || nChars == 0) None
        else Some(counts(us).map { case (g, c) => c * g.length }.max.toDouble / nChars)
      Map(
        "dup_line_frac" -> dupFrac(chunks(3)), "dup_line_char_frac" -> dupChar(chunks(3)),
        "dup_para_frac" -> dupFrac(chunks(10)), "dup_para_char_frac" -> dupChar(chunks(10))) ++
        Seq(2, 3, 4).map(n => s"top${n}_char_frac" -> topChar(grams(n))) ++
        (5 to 10).map(n => s"dup${n}_char_frac" -> dupChar(grams(n)))
    }
    // planted per-signal corpus: period-3 repetition (fires lines + all
    // dup-n-grams), period-10 (fires paragraphs), all-distinct (all
    // dups zero), single word (gram signals NULL -> gates pass), and a
    // one-token spam doc (top-gram shares blow past every threshold)
    val docs = Seq(
      (1L, Seq.fill(20)("a b c").mkString(" ")),
      (2L, Seq.fill(3)("p1 p2 p3 p4 p5 p6 p7 p8 p9 p10").mkString(" ")),
      (3L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (4L, "hello"),
      (5L, Seq.fill(40)("spam").mkString(" ")))
    val dir = graft.Engine.scratchDir("repfull")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val names = Curation.RepetitionThresholds.map(_._1)
    val out = graft.SparkEntry.queries("text_repetition_full")(s0, dir.toString)
      .collect().map(r => r.getLong(0) ->
        (names.map(n => n -> Option(r.getAs[java.lang.Double](n)).map(_.toDouble)).toMap,
          r.getAs[Boolean]("rep_keep"))).toMap
    docs.foreach { case (id, text) =>
      val want = refSignals(text)
      val (got, keep) = out(id)
      names.foreach { n =>
        assert(got(n) == want(n), s"doc $id signal $n: engine ${got(n)} != reference ${want(n)}")
      }
      val wantKeep = Curation.RepetitionThresholds.forall { case (n, th) =>
        want(n).forall(_ <= th) // a missing signal passes its gate
      }
      assert(keep == wantKeep, s"doc $id rep_keep: got $keep want $wantKeep")
    }
    // the battery is non-vacuous exactly as planted: repetition docs
    // fail, the distinct and sub-gram docs pass
    assert(!out(1L)._2 && !out(2L)._2 && !out(5L)._2 && out(3L)._2 && out(4L)._2)
    // per-signal independence: doc 2's paragraph gate fires while its
    // line-count signal stays silent (period 10 over 30 words = ten
    // distinct 3-word chunks), and doc 1 fires every dup-n-gram signal
    assert(out(2L)._1("dup_para_frac").get > 0.30)
    assert(out(2L)._1("dup_line_frac").get == 0.0)
    (5 to 10).foreach(n => assert(out(1L)._1(s"dup${n}_char_frac").get > 0.0,
      s"period-3 doc must fire dup$n"))
    // fixture sanity at sf0.001: NULL only where the doc is shorter
    // than the gram, and rep_keep is exactly the threshold conjunction
    val fix = graft.SparkEntry.queries("text_repetition_full")(s0, sf("sf0.001")).collect()
    fix.foreach { r =>
      val keep = Curation.RepetitionThresholds.forall { case (n, th) =>
        Option(r.getAs[java.lang.Double](n)).forall(_ <= th)
      }
      assert(r.getAs[Boolean]("rep_keep") == keep, s"doc ${r.getLong(0)} gate mismatch")
    }
  }

  test("dedup_winnow_cluster/apply: planted clusters label to min id, apply keeps canonical survivors") {
    val s0 = spark
    import s0.implicits._
    // planted corpus: {30,31,32} a clone cluster (pairwise containment
    // 1.0); {40,41} a second, textually different cluster; 50 a
    // stranger; {60,61} share a 16-token run inside much longer docs —
    // a real dedup_winnow PAIR whose containment sits under the 0.8
    // edge threshold, so the pair must NOT merge them
    val cloneA = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val cloneB = (1 to 20).map(i => s"beta$i").mkString(" ")
    val run = (1 to 16).map(i => s"run$i").mkString(" ")
    val pad1 = (1 to 50).map(i => s"p$i").mkString(" ")
    val pad2 = (1 to 50).map(i => s"q$i").mkString(" ")
    val planted = Seq(
      (30L, cloneA), (31L, cloneA), (32L, cloneA),
      (40L, cloneB), (41L, cloneB),
      (50L, "totally different words nothing in common here at all ten tokens"),
      (60L, s"$pad1 $run"), (61L, s"$run $pad2"))
      .toDF("doc_id", "text")
    val dir = graft.Engine.scratchDir("winnowapply")
    planted.write.parquet(s"$dir/documents.parquet")
    // sanity: 60/61 really pair up below the edge threshold (the
    // threshold branch is exercised, not vacuously skipped)
    val p61 = graft.SparkEntry.queries("dedup_winnow")(s0, dir.toString)
      .filter(col("doc1") === 60L && col("doc2") === 61L)
      .select("containment").as[Double].collect()
    assert(p61.length == 1 && p61(0) < 0.8,
      s"planted sub-threshold pair must exist under 0.8, got ${p61.toSeq}")
    val labels = graft.SparkEntry.queries("dedup_winnow_cluster")(s0, dir.toString)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(labels == Map(30L -> 30L, 31L -> 30L, 32L -> 30L, 40L -> 40L, 41L -> 40L),
      s"cluster labels diverged: $labels")
    val survivors = graft.SparkEntry.queries("dedup_winnow_apply")(s0, dir.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(30L, 40L, 50L, 60L, 61L),
      s"apply must keep canonical members + unclustered docs, got $survivors")

    // fixture invariants at sf0.001: the two consumers agree with each
    // other and with an independent union-find over the >= 0.8 pairs
    val pairs = TextOps.winnowPairs(graft.Tables(s0, sf("sf0.001")).documents)
      .filter(col("n_shared") * 5 >= least(col("n1"), col("n2")) * 4)
      .select("doc1", "doc2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture should contain over-threshold winnow pairs")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val lab001 = graft.SparkEntry.queries("dedup_winnow_cluster")(s0, sf("sf0.001"))
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(lab001 == want, "engine CC diverged from independent union-find")
    val all001 = graft.Tables(s0, sf("sf0.001")).documents
      .select("doc_id").as[Long].collect().toSet
    val surv001 = graft.SparkEntry.queries("dedup_winnow_apply")(s0, sf("sf0.001"))
      .select("doc_id").as[Long].collect().toSet
    assert(surv001 == all001 -- lab001.filter { case (d, c) => d != c }.keys,
      "apply survivors must be exactly corpus minus non-canonical members")
  }

  test("bm25_topk matches an independent in-JVM BM25 on a planted corpus; saturation and length-norm behave") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bm25_fixture").toString
    // doc 0 is the query; 1 repeats a query term (tf saturation), 2 is a
    // long doc with the same tf (length penalty), 3 shares nothing
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha alpha alpha beta x y"),
      (2L, "alpha alpha alpha beta " + Seq.fill(40)("pad").mkString(" ")),
      (3L, "delta epsilon zeta"),
      (4L, "alpha q r s t u"),
      (5L, "beta gamma v w"),
      (6L, "gamma z"),
      (7L, "unrelated words only here"))
    docs.map { case (id, t) => (id, t, "en", s"src$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.queries("bm25_topk")(s, dir)
      .filter(col("q_id") === 0L).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => r.getAs[Long]("c_id") -> r.getAs[Double]("score"))
    // independent reference: same formula, plain Scala
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = docs.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / toks.size
    def df(t: String) = toks.values.count(_.contains(t)).toDouble
    def bm25(q: Long, c: Long): Double = {
      val contribs = toks(q).distinct.map { t =>
        val tf = toks(c).count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
          tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks(c).size / avgdl))
      }
      BigDecimal(contribs.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = docs.map(_._1).filter(_ != 0L)
      .map(c => c -> bm25(0L, c)).filter(_._2 > 0)
      .sortBy { case (c, sc) => (-sc, c) }
    assert(got.toSeq == expected, s"got ${got.toSeq} expected $expected")
    val rankOf = got.map(_._1).zipWithIndex.toMap
    // tf saturation + idf: repeating a term helps (1 beats 4's single hit)
    assert(rankOf(1L) < rankOf(4L), "tf saturation ordering")
    // length normalization: same tf, longer doc scores lower (1 beats 2)
    assert(rankOf(1L) < rankOf(2L), "length-norm ordering")
    // no shared term -> absent entirely
    assert(!rankOf.contains(3L) && !rankOf.contains(7L))
  }

  test("bm25_disk: persisted index serves row-identically; term filter pushed into the postings scan; re-save no-op") {
    val s = spark
    val dir = sf("sf0.001")
    val docs = graft.Tables(s, dir).documents
    val path = java.nio.file.Files.createTempDirectory("textidx").toString + "/idx"
    TextOps.saveTextIndex(docs, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // disk ≡ memory: same weight body, same tail, same rows
    val mem = rows(TextOps.queries("bm25_topk")(s, dir))
    val disk = rows(TextOps.bm25TopKDisk(docs, 0L until 8L, k = 10, path))
    assert(disk == mem, "index-served BM25 must be row-identical to inline")
    // the static term filter reaches the postings scan as a PUSHED
    // parquet filter (file/row-group skipping on the term-sorted
    // layout), not merely a post-scan condition
    val plan = TextOps.bm25TopKDisk(docs, 0L until 8L, k = 10, path)
      .queryExecution.sparkPlan
    val postScan = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("postings")) => f
    }
    assert(postScan.nonEmpty, s"no postings FileSourceScan in:\n$plan")
    val pushed = postScan.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("term"),
      s"term filter must be PUSHED to the postings scan, got: $pushed")
    // a second save over the committed artifact is a no-op (marker wins)
    val builds = TextOps.textIndexSaveCount.get()
    TextOps.saveTextIndex(docs, path)
    assert(TextOps.textIndexSaveCount.get() == builds,
      "re-save over a committed index must not rebuild")
  }

  test("appendTextIndex: even-build + odd-append ≡ one-shot full build; no file rewritten; df merges exactly") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val docs = graft.Tables(s, dir).documents
    val base = java.nio.file.Files.createTempDirectory("textidx_app").toString
    val full = s"$base/full"; val lsm = s"$base/lsm"
    TextOps.saveTextIndex(docs, full)
    TextOps.saveTextIndex(docs.filter(col("doc_id") % 2 === 0), lsm)
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(lsm)).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = files()
    TextOps.appendTextIndex(docs.filter(col("doc_id") % 2 === 1), lsm)
    val after = files()
    // append-only: every pre-append file survives; the batch arrives as
    // ONE committed delta-<uuid> directory (atomic rename, no torn
    // multi-table appends) and no in-flight _stage- dir remains
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files and never rewrite existing ones")
    val gen = Store.live(s, lsm).get
    val deltas = new java.io.File(gen).listFiles()
      .filter(_.getName.startsWith("delta-"))
    assert(deltas.length == 1, s"expected one committed delta, got ${deltas.toSeq}")
    assert(!new java.io.File(gen).listFiles().exists(_.getName.startsWith("_stage-")),
      "no in-flight stage dir may survive a committed append")
    // the merged index answers EXACTLY like the one-shot full build
    def rows(path: String) =
      TextOps.bm25TopKDisk(docs, 0L until 8L, k = 10, path).collect().map(_.toSeq).toSeq
    assert(rows(lsm) == rows(full), "LSM-merged serving must equal full build")
    // df merges exactly: per-term sum over base + deltas == one-shot df
    val merged = s.read.parquet(s"$gen/df", s"${deltas(0)}/df").groupBy("term")
      .agg(sum(col("df")).as("df")).as[(String, Long)].collect().toMap
    val oneShot = s.read.parquet(s"${Store.live(s, full).get}/df")
      .as[(String, Long)].collect().toMap
    assert(merged == oneShot, "merged df table must equal the one-shot df")
  }

  test("select_budget: selection is the exact greedy prefix, budget never exceeded, next doc would overflow") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val sel = TextOps.queries("select_budget")(s, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(sel.nonEmpty)
    // budget invariant
    val spent = sel.map(_._2).sum
    assert(spent <= 10000L, s"budget exceeded: $spent")
    // the selection is a PREFIX of the (quality_e6 desc, doc_id) order:
    // derive the full order independently via the in-JVM exact-integer
    // reimplementation (round 16 — the query's sort key is BIGINT
    // rational arithmetic, so the cross-check must be too)
    val all = graft.Tables(s, dir).documents
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        (id, t.split(" ", -1).length.toLong, ExactQualityKit.qualityE6(t).get)
      }
      .sortBy { case (id, _, q) => (-q, id) }
    val prefix = all.take(sel.length)
    assert(prefix.map(_._1).toSet == sel.map(_._1).toSet,
      "selected docs must be exactly the greedy prefix")
    // maximality: the next doc in the order would overflow the budget
    val next = all.drop(sel.length).headOption
    next.foreach { case (_, nTok, _) =>
      assert(spent + nTok > 10000L,
        s"selection not maximal: next doc ($nTok tokens) still fits")
    }
    // cum_tokens is the running total in the greedy order
    val cumOf = sel.map(t => t._1 -> t._4).toMap
    var running = 0L
    prefix.foreach { case (id, nTok, _) =>
      running += nTok
      assert(cumOf(id) == running, s"cum_tokens wrong for doc $id")
    }
  }

  test("compactTextIndex: merges LSM deltas into a new generation behind the pointer; GC; results invariant") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val docs = graft.Tables(s, dir).documents
    val path = java.nio.file.Files.createTempDirectory("textidx_cmp").toString + "/idx"
    TextOps.saveTextIndex(docs.filter(col("doc_id") % 2 === 0), path)
    TextOps.appendTextIndex(docs.filter(col("doc_id") % 2 === 1), path)
    def rows() =
      TextOps.bm25TopKDisk(docs, 0L until 8L, k = 10, path).collect().map(_.toSeq).toSeq
    val before = rows()
    // the problem compaction exists to undo: the live generation holds
    // base + delta df rows (some term appears in both batches)
    def dfPaths(gen: String): Seq[String] = {
      val g = new java.io.File(gen)
      s"$gen/df" +: g.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("delta-"))
        .map(d => s"$d/df")
    }
    def dfDupTerms(gen: String): Long = s.read.parquet(dfPaths(gen): _*)
      .groupBy("term").count().filter(col("count") > 1).count()
    def live = Store.live(s, path).get
    val gen0 = live
    assert(new java.io.File(gen0).getName.startsWith("gen-00000001-"), gen0)
    assert(dfDupTerms(gen0) > 0, "fixture has no df deltas — vacuous")
    TextOps.compactTextIndex(s, path)
    // new generation: df merged to ONE row per term, stats to one row,
    // results row-identical; the first generation survives for in-flight readers
    val gen1 = live
    assert(new java.io.File(gen1).getName.startsWith("gen-00000002-"), gen1)
    assert(dfDupTerms(gen1) == 0)
    assert(s.read.parquet(s"$gen1/stats").count() == 1)
    assert(rows() == before, "compaction must not change results")
    assert(new java.io.File(s"$gen0/postings").isDirectory)
    // GC removes exactly the superseded generation, its delta included
    assert(Store.gc(s, path) == Seq(new java.io.File(gen0).getName))
    assert(!new java.io.File(gen0).exists())
    assert(rows() == before, "GC must not touch the live generation")
    // appends land in the LIVE generation; a second compact+GC cycles it
    val twins = docs.filter(col("doc_id") < 4)
      .withColumn("doc_id", col("doc_id") + lit(100000L))
    TextOps.appendTextIndex(twins, path)
    val genDeltas = new java.io.File(gen1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("delta-"))
    assert(genDeltas.length == 1 &&
      s.read.parquet(s"${genDeltas(0)}/doclen")
        .filter(col("c_id") >= 100000L).count() > 0,
      "append must commit a delta inside the current generation")
    val withTwins = TextOps.bm25TopKDisk(docs.unionByName(twins),
      0L until 4L, k = 10, path).collect()
    // an appended exact twin of each query doc must surface (same text
    // -> shares every query term) — proves the appended rows serve
    (0L until 4L).foreach { q =>
      assert(withTwins.exists(r => r.getAs[Long]("q_id") == q &&
        r.getAs[Long]("c_id") == q + 100000L),
        s"appended twin of query $q not served")
    }
    TextOps.compactTextIndex(s, path)
    assert(dfDupTerms(live) == 0)
    assert(Store.gc(s, path) == Seq(new java.io.File(gen1).getName))
  }

  test("retrieve_metrics: recomputes from the two lists; planted perfect-agreement corpus scores exactly 1.0") {
    val s = spark
    import s.implicits._
    // independent recomposition on the real fixture
    val dir = sf("sf0.001")
    val truth = VectorOps.queries("sim_topk")(s, dir).collect()
      .groupBy(_.getAs[Long]("q_id")).view
      .mapValues(_.map(_.getAs[Long]("c_id")).toSet).toMap
    val bm = TextOps.queries("bm25_topk")(s, dir).collect()
      .groupBy(_.getAs[Long]("q_id")).view
      .mapValues(_.map(r => r.getAs[Long]("rank") -> r.getAs[Long]("c_id"))).toMap
    val idcg = (1 to 10).map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextOps.queries("retrieve_metrics")(s, dir)
      .as[(Long, Double, Double, Double)].collect()
    got.foreach { case (q, recall, mrr, ndcg) =>
      val hits = bm(q).filter { case (_, c) => truth(q)(c) }
      assert(recall == r6(hits.size / 10.0), s"q$q recall")
      assert(mrr == r6(hits.map(_._1).minOption.map(1.0 / _).getOrElse(0.0)), s"q$q mrr")
      assert(ndcg == r6(hits.map { case (r, _) =>
        1.0 / (math.log(r + 1) / math.log(2)) }.sum / idcg), s"q$q ndcg")
    }
    // planted corpus: queries 0..7 live in an 11-doc group of IDENTICAL
    // text and identical embeddings; filler docs share neither terms
    // nor direction — both retrievers must return exactly the 10
    // co-group members, so every metric is exactly 1.0
    val pdir = java.nio.file.Files.createTempDirectory("metrics_fixture").toString
    val groupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L to 10L).map(i => (i, groupText)) ++
      (11L to 40L).map(i => (i, s"filler${i}a filler${i}b filler${i}c"))
    docs.map { case (id, t) => (id, t, "en", s"src$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$pdir/documents.parquet")
    val dim = 16
    docs.map { case (id, _) =>
      val v = Array.fill(dim)(0f)
      if (id <= 10) v(0) = 1f else v((id % (dim - 1)).toInt + 1) = 1f
      (id, v.toSeq, (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$pdir/embeddings.parquet")
    val planted = TextOps.queries("retrieve_metrics")(s, pdir)
      .as[(Long, Double, Double, Double)].collect()
    assert(planted.length == 8)
    planted.foreach { case (q, recall, mrr, ndcg) =>
      assert(recall == 1.0 && mrr == 1.0 && ndcg == 1.0,
        s"q$q expected perfect metrics, got ($recall, $mrr, $ndcg)")
    }
  }

  test("bm25_prf: expansion bridges the lexical gap — a no-shared-term doc surfaces via feedback co-occurrence") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prf_fixture").toString
    // query doc 0 (alpha beta); feedback doc 1 co-occurs alpha/beta with
    // the synonym-ish term "gamma"; doc 2 contains ONLY gamma — pure
    // BM25 can never return it for query 0, PRF must
    val docs = Seq(
      (0L, "alpha beta"),
      (1L, "alpha beta gamma gamma"),
      (2L, "gamma gamma gamma x y z"),
      (3L, "unrelated filler words here"),
      (4L, "more filler content entirely"),
      (5L, "alpha w"),
      (6L, "beta v"),
      (7L, "filler filler filler"))
    docs.map { case (id, t) => (id, t, "en", s"src$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def ids(q: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame], name: String): Set[Long] =
      q(name)(s, dir).filter(col("q_id") === 0L)
        .select("c_id").as[Long].collect().toSet
    val pure = ids(TextOps.queries, "bm25_topk")
    val prf = ids(TextOps.queries, "bm25_prf")
    assert(!pure.contains(2L), "doc 2 shares no query term — pure BM25 must miss it")
    assert(prf.contains(2L), "PRF must surface doc 2 through the expanded term")
    // original-term matches are not lost by expansion
    assert(Set(1L, 5L, 6L).subsetOf(prf), s"original-term docs missing: $prf")
    // determinism: two evaluations agree exactly
    assert(TextOps.queries("bm25_prf")(s, dir).collect().toSeq ==
      TextOps.queries("bm25_prf")(s, dir).collect().toSeq)
  }

  test("indexBatchToState: first batch builds, redelivery is a no-op, mixed batch admits only fresh docs") {
    val s = spark
    import s.implicits._
    val dir = sf("sf0.001")
    val docs = graft.Tables(s, dir).documents
    val path = java.nio.file.Files.createTempDirectory("textidx_str").toString + "/idx"
    def deltas() = Store.live(s, path).toSeq.flatMap(g => new java.io.File(g).listFiles())
      .count(f => f.isDirectory && f.getName.startsWith("delta-"))
    val b1 = docs.filter(col("doc_id") < 100)
    val b2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    TextOps.indexBatchToState(b1, path) // bootstrap: BUILDS the index
    assert(deltas() == 0)
    TextOps.indexBatchToState(b2, path)
    assert(deltas() == 1)
    TextOps.indexBatchToState(b1, path) // redelivery: guard drops all
    assert(deltas() == 1, "a fully-redelivered batch must commit nothing")
    // mixed batch: one already-indexed doc + fresh docs -> one delta
    // containing ONLY the fresh docs
    val mixed = docs.filter(col("doc_id") === 0 ||
      (col("doc_id") >= 200 && col("doc_id") < 210))
    TextOps.indexBatchToState(mixed, path)
    assert(deltas() == 2)
    val served = TextOps.bm25TopKDisk(docs, 0L until 4L, k = 10, path)
    // the incrementally-built index equals a one-shot build over the
    // same admitted corpus
    val oneShot = java.nio.file.Files.createTempDirectory("textidx_str2").toString + "/idx"
    TextOps.saveTextIndex(docs.filter(col("doc_id") < 210), oneShot)
    assert(served.collect().map(_.toSeq).toSeq ==
      TextOps.bm25TopKDisk(docs, 0L until 4L, k = 10, oneShot)
        .collect().map(_.toSeq).toSeq,
      "incremental build with redelivery must equal the one-shot build")
  }

  test("retrieve_hybrid: RRF algebra recomputes from emitted ranks, fused set ⊆ inputs, both-lists beats one-list") {
    val s = spark
    val dir = sf("sf0.001")
    val bm = TextOps.queries("bm25_topk")(s, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")) -> r.getAs[Long]("rank")).toMap
    val cs = VectorOps.queries("sim_topk")(s, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")) -> r.getAs[Long]("rank")).toMap
    val fused = TextOps.queries("retrieve_hybrid")(s, dir).collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))
      // membership: every fused row came from at least one input list,
      // and the emitted input ranks are the input lists' ranks
      assert(bm.contains(key) || cs.contains(key), s"$key in neither list")
      assert(Option(r.getAs[Any]("r_bm")).map(_.asInstanceOf[Long]) == bm.get(key))
      assert(Option(r.getAs[Any]("r_cos")).map(_.asInstanceOf[Long]) == cs.get(key))
      // RRF algebra, bit-exact: 1/(60+r) per contributing list
      val exp = bm.get(key).map(r0 => 1.0 / (60 + r0)).getOrElse(0.0) +
        cs.get(key).map(r0 => 1.0 / (60 + r0)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == exp, s"$key rrf")
    }
    // a doc on BOTH lists always outranks a doc on one list whose best
    // rank is no better: min possible one-list rrf at rank 1 (1/61) <
    // two-list rrf at ranks (10,10) (2/70) is FALSE in general, so pin
    // the provable case — both-lists (r_bm,r_cos) dominates one-list
    // with the SAME best rank
    fused.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rank"))
      byRank.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getAs[Double]("rrf") >= lo.getAs[Double]("rrf"),
            "fused order must be rrf-descending")
        case _ =>
      }
    }
  }

  test("text_readability: hand-counted planted docs, formula parity, simple text outscores dense text") {
    val s = spark
    val dir = sf("sf0.001")
    val got = graft.SparkEntry.queries("text_readability")(s, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_sents"), r.getAs[Long]("n_syll"),
          r.getAs[Double]("flesch"), r.getAs[Double]("fk_grade")))).toMap
    // independent in-JVM re-derivation over the corpus
    val docs = graft.Tables(s, dir).documents.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, t) =>
      val w = t.split(" ", -1).count(_.nonEmpty).toLong
      val sn = "[.!?]+".r.findAllIn(t).size.toLong
      val y = "[aeiouyAEIOUY]+".r.findAllIn(t).size.toLong
      val (w1, s1) = (math.max(w, 1L), math.max(sn, 1L))
      val flesch = (206835L * s1 * w1 - 1015L * w1 * w1 - 84600L * y * s1).toDouble /
        (1000L * s1 * w1)
      val grade = (39L * w1 * w1 + 1180L * y * s1 - 1559L * s1 * w1).toDouble /
        (100L * s1 * w1)
      assert(got(id) == ((w, sn, y, flesch, grade)), s"doc $id mismatch: ${got(id)}")
    }
    // semantic sanity on planted extremes: short-sentence monosyllabic
    // prose reads easier (higher flesch, lower grade) than one long
    // polysyllabic sentence
    import s.implicits._
    val planted = Seq(
      (1L, "The cat sat. The dog ran. It was fun. We all saw it. Good day."),
      (2L, "Extraordinarily convoluted administrative bureaucratic organizational " +
        "considerations necessitate comprehensive multidimensional evaluation " +
        "methodologies throughout intergovernmental coordination"))
      .toDF("doc_id", "text")
    val p = planted.select(col("doc_id"),
        size(filter(split(col("text"), " "), x => length(x) > 0)).cast("long").as("w"),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long").as("sn"),
        size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"), lit(0))).cast("long").as("y"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def fleschOf(t: (Long, Long, Long)): Double = {
      val (w, sn, y) = t; val (w1, s1) = (math.max(w, 1L), math.max(sn, 1L))
      (206835L * s1 * w1 - 1015L * w1 * w1 - 84600L * y * s1).toDouble / (1000L * s1 * w1)
    }
    assert(fleschOf(p(1L)) > 60.0 && fleschOf(p(2L)) < 0.0,
      s"extremes not separated: ${fleschOf(p(1L))} vs ${fleschOf(p(2L))}")
  }

  test("span_corrupt: denoising round-trip reconstructs every doc; rate = n div 20; sentinels position-ordered") {
    val s = spark
    val dir = sf("sf0.001")
    val sentinel = "<extra_id_(\\d+)>".r
    val rows = graft.SparkEntry.queries("span_corrupt")(s, dir).collect()
    val texts = graft.Tables(s, dir).documents.select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    var masked = 0
    rows.foreach { r =>
      val (id, n, k) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"))
      val (inputs, targets) = (r.getAs[String]("inputs"), r.getAs[String]("targets"))
      val orig = texts(id).split(" ", -1).filter(_.nonEmpty).toSeq
      assert(n == orig.length && k == n / 20, s"doc $id counts")
      if (k > 0) masked += 1
      // parse targets into span_k -> tokens (final sentinel k terminates)
      val tToks = targets.split(" ", -1).filter(_.nonEmpty).toSeq
      val spans = scala.collection.mutable.Map.empty[Int, Vector[String]]
      var cur = -1
      tToks.foreach {
        case sentinel(d) => cur = d.toInt; spans(cur) = Vector.empty
        case t => assert(cur >= 0, s"doc $id: target token before a sentinel"); spans(cur) :+= t
      }
      assert(spans.keySet == (0 to k.toInt).toSet, s"doc $id sentinel set")
      assert(spans(k.toInt).isEmpty, s"doc $id: final sentinel must be bare")
      // inputs' sentinels must be 0..k-1 in increasing position order
      val inToks = if (inputs.isEmpty) Seq.empty else inputs.split(" ", -1).filter(_.nonEmpty).toSeq
      val seen = inToks.collect { case sentinel(d) => d.toInt }
      assert(seen == (0 until k.toInt).toList, s"doc $id input sentinel order: $seen")
      // ROUND TRIP: splice each span back over its sentinel
      val rebuilt = inToks.flatMap {
        case sentinel(d) => spans(d.toInt)
        case t => Seq(t)
      }
      assert(rebuilt == orig, s"doc $id does not round-trip")
      // masked spans are aligned 3-token blocks → every non-final span
      // has exactly 3 tokens
      (0 until k.toInt).foreach(i =>
        assert(spans(i).length == 3, s"doc $id span $i length ${spans(i).length}"))
    }
    assert(masked > 0, "no doc in the fixture was masked: the policy is vacuous here")
  }
}

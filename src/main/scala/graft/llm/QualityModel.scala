package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Model-based document quality scoring (round-9 verdict ask #6): a
  * hashed-ngram LOGISTIC model trained in-engine — the learned
  * counterpart of the rule-based `text_quality` heuristic, the
  * fasttext-classifier shape every production corpus pipeline runs
  * (CCNet/GPT-3-style quality filtering) re-expressed on DataFrames.
  *
  * Features: word unigrams hashed into `D` buckets (feature hashing —
  * Weinberger et al. 2009), per-doc counts, plus a constant bias
  * bucket. The model is a (D+1)-double weight vector — KILOBYTES — so
  * it follows the engine's bounded-driver-model discipline (BPE merge
  * table, IVF centroids): the heavy data-side work (feature extraction,
  * margins, gradients) is groupBy/agg over (doc, bucket) triples; only
  * the weight vector ever sits on the driver.
  *
  * Two training paths with the same update rule (full-batch gradient
  * descent on logistic loss, fixed lr / iteration count, zero-init —
  * deterministic):
  *  - triple count ≤ `maxLocalTriples` → collect the SPARSE feature
  *    triples (bounded by the threshold itself: 2M × 24 B ≈ 48 MB hard
  *    cap, fixture corpora are ~100× under it) and run the loop
  *    in-memory — k iterations cost zero extra Spark jobs, like
  *    [[Bpe.train]]'s small-vocab path;
  *  - larger corpora → [[trainDistributed]]: per iteration, margins =
  *    features ⋈ broadcast(weights) + per-doc sum, errors = sigmoid −
  *    label, gradient = features ⋈ errors + per-bucket sum — two
  *    broadcast joins and two map-side-combinable aggregations over
  *    the persisted triple table, one (D+1)-row collect per iteration.
  *    QualityModelSpec pins the paths to agree within float tolerance
  *    (bit-exactness is not promised across paths: distributed sums
  *    reorder floating-point addition).
  */
object QualityModel {

  /** Feature buckets (power of two; the +1th bucket is the bias). */
  val D = 1024

  /** (doc_id, d, x): hashed-unigram counts + one bias row per doc.
    * The feature hash is the PORTABLE md5 bucket (round 16 — the
    * sampling-family idiom: first 15 hex digits mod D), not xxhash64:
    * the scorer's oracle replays the feature map in DuckDB via
    * `CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) % D`, which an
    * xxhash64 feature space cannot do. Counts are raw term frequencies
    * (the classic hashed-BoW).
    */
  def features(docs: DataFrame): DataFrame = {
    val grams = graft.Engine.spread(docs, "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"),
        (Sampling.hashBucket(col("w"), hexDigits = 15) % lit(D.toLong)).as("d"))
      .groupBy("doc_id", "d").agg(count(lit(1)).cast("double").as("x"))
    grams.unionByName(
      docs.select(col("doc_id"), lit(D.toLong).as("d"), lit(1.0).as("x")))
  }

  private def sigmoid(m: Double): Double = 1.0 / (1.0 + math.exp(-m))

  /** Train on (doc_id, text, y) — y ∈ {0.0, 1.0} (1 = good). Returns
    * the (D+1)-weight model, bias last.
    */
  def train(labeled: DataFrame, iters: Int = 60, lr: Double = 0.5,
      maxLocalTriples: Long = 2000000L): Array[Double] = {
    val feats = features(labeled.select("doc_id", "text")).persist()
    try {
      val n = feats.count() // materializes; triple count for the path choice
      val labels = labeled.select("doc_id", "y")
      if (n <= maxLocalTriples) {
        // deterministic order: the local loop's FP sums run in sorted
        // (doc, bucket) order, so identical input → identical weights
        val t = feats.join(labels, "doc_id")
          .select(col("doc_id"), col("d"), col("x"), col("y"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1).toInt, r.getDouble(2), r.getDouble(3)))
          .sortBy(r => (r._1, r._2))
        trainLocal(t, iters, lr)
      } else trainDistributed(feats, labels, iters, lr)
    } finally { feats.unpersist(); () }
  }

  private def trainLocal(triples: Array[(Long, Int, Double, Double)],
      iters: Int, lr: Double): Array[Double] = {
    val docIds = triples.map(_._1).distinct.sorted
    val docIdx = docIds.zipWithIndex.toMap
    val nDocs = docIds.length
    val y = new Array[Double](nDocs)
    triples.foreach { case (id, _, _, yy) => y(docIdx(id)) = yy }
    val w = new Array[Double](D + 1)
    var it = 0
    while (it < iters) {
      val margins = new Array[Double](nDocs)
      triples.foreach { case (id, d, x, _) => margins(docIdx(id)) += w(d) * x }
      val grad = new Array[Double](D + 1)
      triples.foreach { case (id, d, x, _) =>
        grad(d) += (sigmoid(margins(docIdx(id))) - y(docIdx(id))) * x
      }
      var d = 0
      while (d <= D) { w(d) -= lr * grad(d) / nDocs; d += 1 }
      it += 1
    }
    w
  }

  /** The fully-distributed gradient loop (unbounded-corpus path).
    * `feats` arrives persisted; per iteration the only driver traffic
    * is the (D+1)-row gradient and the broadcast weight table.
    */
  private[llm] def trainDistributed(feats: DataFrame, labels: DataFrame,
      iters: Int, lr: Double): Array[Double] = {
    val spark = feats.sparkSession
    import spark.implicits._
    val withY = feats.join(labels, "doc_id").persist()
    val nDocs = labels.count().toDouble
    var w = new Array[Double](D + 1)
    try {
      var it = 0
      while (it < iters) {
        val wDf = broadcast(w.zipWithIndex
          .map { case (v, d) => (d.toLong, v) }.toSeq.toDF("d", "wv"))
        val err = withY.join(wDf, "d")
          .groupBy("doc_id").agg(sum(col("x") * col("wv")).as("m"),
            first(col("y")).as("y"))
          .select(col("doc_id"),
            (lit(1.0) / (lit(1.0) + exp(-col("m"))) - col("y")).as("e"))
        val grad = withY.join(err, "doc_id")
          .groupBy("d").agg(sum(col("x") * col("e")).as("g"))
          .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
        w = w.zipWithIndex.map { case (v, d) =>
          v - lr * grad.getOrElse(d, 0.0) / nDocs }
        it += 1
      }
      w
    } finally { withY.unpersist(); () }
  }

  /** Score docs with a trained model: (doc_id, score) where score =
    * sigmoid(w·x) rounded to 6 dp (ranking-stable; the raw margin sum
    * is a per-doc aggregation whose FP order Spark may permute by an
    * ulp). Features ⋈ broadcast(weights) + one map-side-combinable
    * per-doc sum — two narrow jobs, corpus scanned once.
    */
  def score(docs: DataFrame, w: Array[Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wDf = broadcast(w.zipWithIndex
      .map { case (v, d) => (d.toLong, v) }.toSeq.toDF("d", "wv"))
    features(docs).join(wDf, "d")
      .groupBy("doc_id").agg(sum(col("x") * col("wv")).as("m"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("m"))), 6).as("score"))
  }

  /** The planted good/bad training fixture: every corpus doc is a
    * GOOD example (y=1), and a key-shifted BAD twin (y=0) keeps the
    * doc's first three words then degenerates into repeated spam
    * boilerplate — the low-quality signature (tiny vocabulary, heavy
    * repetition, promo tokens) a learned filter must separate from
    * fixture prose. Deterministic: pure projections of the corpus.
    */
  def plantedTraining(docs: DataFrame): DataFrame = {
    val good = docs.select(col("doc_id"), col("text"), lit(1.0).as("y"))
    val bad = docs.select(
      (col("doc_id") + lit(1000000000L)).as("doc_id"),
      concat_ws(" ",
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)),
        array_join(array_repeat(
          lit("click here free winner buy now limited offer"),
          8), " ")).as("text"),
      lit(0.0).as("y"))
    good.unionByName(bad)
  }

  /** Hash-split: ~70% of doc_ids train, the rest hold out (the same
    * md5-bucket determinism the sampling family uses — never rand()).
    */
  def trainSplit(labeled: DataFrame): (DataFrame, DataFrame) = {
    val bucket = pmod(xxhash64(col("doc_id")), lit(10L))
    (labeled.filter(bucket < 7), labeled.filter(bucket >= 7))
  }

  /** Trained model memoized per (session, dir) — the classifier is a
    * per-corpus artifact like the BPE merges and IVF centroids.
    */
  private val modelCache = Memo.slot[String, Array[Double]]("QualityModel.modelCache")

  def trainedModel(s: SparkSession, dir: String): Array[Double] = {
    modelCache(s, dir) {
      val (tr, _) = trainSplit(plantedTraining(Tables(s, dir).documents))
      train(tr)
    }
  }

  /** (doc_id, w1, w2) bigram transitions of a doc table — the zip_with
    * shifted-slice construction [[NearDedup.shingleArrays]] documents
    * (transform+element_at would re-split per element).
    */
  private def bigrams(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    graft.Engine.spread(docs, "doc_id")
      .filter(size(ws) >= 2)
      .select(col("doc_id"),
        explode(slice(
          zip_with(ws, slice(ws, lit(2), size(ws)),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          lit(1), size(ws) - 1)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  /** N-gram LM perplexity scoring — the CCNet-style quality signal: an
    * add-k-smoothed BIGRAM language model is trained on a held-out
    * split (even doc_ids — the engine's portable split convention) and
    * every doc is scored by per-transition perplexity
    * exp(−Σ ln p(w_i|w_{i−1}) / n), where p = (c(w1,w2)+k) /
    * (c(w1)+k·V). High perplexity = text the corpus LM finds unnatural
    * (boilerplate, spam, wrong language) — the complement of the
    * discriminative [[score]].
    *
    * Scale shape: the LM is two count tables (unigram, bigram — ONE
    * map-side-combinable agg each over the train split), scoring is
    * two key joins of the corpus's transitions against them (AQE
    * broadcasts while small; at 100 TB both are plain key shuffles of
    * narrow rows) + one per-doc agg. V (vocab size) is the lone
    * driver scalar. Fully SQL-expressible → DuckDB oracle-checked.
    */
  def perplexity(docs: DataFrame, kSmooth: Double = 0.5): DataFrame = {
    val train = docs.filter(col("doc_id") % 2 === 0)
    // r18-opt (guide §1.2, the dsir hashedGrams precedent): BOTH LM
    // count tables come from ONE scan+explode of the train split — a
    // combined gram stream where unigrams carry w2 = NULL and bigram
    // transitions carry both words — instead of separate unigram and
    // bigram passes (2 scans → 1; the old unigram pass also ran
    // un-spread, i.e. single-task on the one-row-group fixture). The
    // groupBy treats the NULL w2 as its own key, so `uni`/`big` are
    // exact row-filter views of the persisted counts; counts and V are
    // integers — identical to the two-pass values.
    val ws = split(col("text"), " ")
    val lm = graft.Engine.spread(train, "doc_id")
      .select(explode(concat(
        transform(filter(ws, w => length(w) > 0),
          w => struct(w.as("w1"), lit(null).cast("string").as("w2"))),
        when(size(ws) >= 2,
          slice(zip_with(ws, slice(ws, lit(2), size(ws)),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
            lit(1), size(ws) - 1))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))))
        .as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .persist()
    try {
      // the LM views are materialized (localCheckpoint, vocab-sized —
      // the substringSpans discipline) while lm is cached, so the
      // scoring action below joins finished count tables instead of
      // re-running the train-split explode per referenced view (the
      // old persist was released before the action ever ran)
      val uni = lm.filter(col("w2").isNull)
        .select(col("w1"), col("c").as("cw")).localCheckpoint()
      val big = lm.filter(col("w2").isNotNull)
        .select(col("w1"), col("w2"), col("c").as("cb")).localCheckpoint()
      val v = uni.count().toDouble
      bigrams(docs)
        .join(uni, Seq("w1"), "left")
        .join(big, Seq("w1", "w2"), "left")
        .select(col("doc_id"),
          log((coalesce(col("cb"), lit(0L)) + lit(kSmooth)) /
            (coalesce(col("cw"), lit(0L)) + lit(kSmooth * v))).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_transitions"),
          round(exp(-sum(col("lp")) / count(lit(1))), 6).as("ppl"))
    } finally { lm.unpersist(); () }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // oracle-checked since round 16 via the weight-embedding replay
    // (the embed_project/cluster_kmeans graduation path): training
    // stays engine-internal, the (D+1)-double weight vector rides into
    // the oracle as literals and DuckDB re-derives the portable-md5
    // feature map + sigmoid score. AUC/determinism/path-parity still
    // pinned in QualityModelSpec.
    "quality_model_score" -> ((s, dir) =>
      score(Tables(s, dir).documents, trainedModel(s, dir))
        .orderBy("doc_id")),

    "text_perplexity" -> ((s, dir) =>
      perplexity(Tables(s, dir).documents).orderBy("doc_id")),

    // ensemble quality gate (round 16) — what FineWeb/Dolma-class
    // pipelines actually deploy: no single filter decides; the doc
    // passes on a MAJORITY of (heuristic composite ≥ 0.5, Gopher rule
    // gate, learned classifier ≥ 0.5). Composes the three shared
    // definitions (qualityE6Rational / GopherGate / score) so the
    // ensemble can never drift from its oracle-checked parents; votes
    // are integer/boolean end-to-end (the classifier vote compares the
    // ROUNDED score, whose nearest fixture point sits 0.42 from the
    // boundary — measured, not assumed). ONE narrow scan computes both
    // rule votes; the model vote joins the per-doc score (bias feature
    // guarantees every doc scores). Scale: the score join is the only
    // shuffle; everything else is codegen'd per-row arithmetic.
    "quality_ensemble" -> ((s, dir) => {
      val g = TextOps.GopherGate
      val (_, num, den) = TextOps.qualityE6Rational(col("text"))
      val rules = Tables(s, dir).documents
        .select(col("doc_id"), num.as("qnum"), den.as("qden"),
          g.keep.as("gopher_ok"))
        .withColumn("quality_e6", expr("(qnum * 2 + qden) DIV (qden * 2)"))
        .withColumn("heuristic_ok",
          coalesce(col("quality_e6") >= 500000L, lit(false)))
        .select("doc_id", "quality_e6", "heuristic_ok", "gopher_ok")
      rules.join(score(Tables(s, dir).documents, trainedModel(s, dir)), "doc_id")
        .withColumn("model_ok", col("score") >= 0.5)
        .withColumn("n_votes",
          (col("heuristic_ok").cast("int") + col("gopher_ok").cast("int") +
            col("model_ok").cast("int")).cast("long"))
        .withColumn("keep", col("n_votes") >= 2)
        .select("doc_id", "quality_e6", "score", "heuristic_ok", "gopher_ok",
          "model_ok", "n_votes", "keep")
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (round 14 — Wenzek et al. 2020):
    // per LANGUAGE, split the corpus into equal-depth head/middle/tail
    // terciles of LM perplexity — the partition CCNet publishes and
    // trains on (head = most natural text). Bucketing is the EXPLICIT
    // integer formula `(rn−1)·3 DIV n + 1` over (ppl, doc_id) — round
    // 17 retired the last engine `ntile` from a compare path per the
    // round-16 dump-form rule (e); for k=3 the formula is provably
    // identical to SQL-standard ntile(3) (remainder 1 → sizes
    // ⌈n/3⌉,⌊n/3⌋,⌊n/3⌋; remainder 2 → ⌈n/3⌉,⌈n/3⌉,⌊n/3⌋ — the
    // evenly-spread and front-loaded placements coincide at k=3), and
    // both engines now evaluate the SAME spelled-out arithmetic (the
    // dsir_select precedent, Sampling.scala) instead of two ntile
    // implementations. Pure INTEGER equal-depth split of a
    // deterministic total order, so no float threshold boundary exists
    // for the engines to disagree on (the round(ppl, 6) values are
    // already oracle-matched by `text_perplexity`; an interpolated
    // 1/3-quantile threshold would put fp interpolation on the
    // comparison path instead). Scale shape: the exact formulation
    // sorts each language partition in one task — correct for the
    // oracle and fine to tens of millions of docs/lang; at 100 TB a
    // pipeline swaps the window for per-lang approx_percentile
    // thresholds + a broadcast threshold join (the agg_approx_pct
    // precedent), trading exact tercile depth for full distribution.
    // Sub-bigram docs carry no ppl and are absent, as in
    // `text_perplexity`.
    "perplexity_buckets" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("ppl"), col("doc_id"))
      val wn = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      perplexity(Tables(s, dir).documents)
        .join(Tables(s, dir).documents.select("doc_id", "lang"), "doc_id")
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(wn))
        .withColumn("tercile", expr("(__rn - 1) * 3 DIV __n + 1"))
        .select(col("doc_id"), col("lang"), col("ppl"), col("tercile"),
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // the 100 TB twin of `perplexity_buckets` (the agg_approx_pct
    // precedent): per-language t-digest approx-percentile thresholds
    // at 1/3 and 2/3 — ONE map-side-combinable sketch agg over the
    // scored corpus (no per-language single-task sort anywhere) —
    // broadcast back as a |langs|-row table, each doc labeled by two
    // comparisons. This is the formulation that holds at a billion
    // docs per language; the exact ntile id is its correctness anchor
    // (agreement pinned in QualityModelSpec). Oracle-checked since
    // round 16 via the threshold-embedding replay: the |langs|-row
    // threshold table is memoized engine-side (it IS the model this
    // id trains, like BPE merges) and rides into the oracle as
    // literals — the sketch returns actual round(·,6) sample elements,
    // so the ≤ comparisons replay bit-exactly.
    "perplexity_buckets_approx" -> ((s, dir) => {
      import s.implicits._
      val scored = perplexity(Tables(s, dir).documents)
        .join(Tables(s, dir).documents.select("doc_id", "lang"), "doc_id")
      val th = broadcast(pplThresholds(s, dir).toSeq.toDF("lang", "t1", "t2"))
      scored.join(th, "lang")
        .select(col("doc_id"), col("lang"), col("ppl"),
          when(col("ppl") <= col("t1"), "head")
            .when(col("ppl") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    })
  )

  /** Memoized per-(session, dir) language→(t1, t2) approx-tercile
    * thresholds — the bounded model artifact `perplexity_buckets_approx`
    * trains (|langs| rows), collected once so the served query and the
    * threshold-embedding oracle replay the IDENTICAL values (a sketch
    * re-run's merge order is not contractually deterministic).
    */
  private val pplThCache = Memo.slot[String, Array[(String, Double, Double)]]("QualityModel.pplThCache")

  private[llm] def pplThresholds(s: SparkSession, dir: String): Array[(String, Double, Double)] = {
    pplThCache(s, dir)(
      perplexity(Tables(s, dir).documents)
        .join(Tables(s, dir).documents.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(
          percentile_approx(col("ppl"), lit(1.0 / 3), lit(10000)).as("t1"),
          percentile_approx(col("ppl"), lit(2.0 / 3), lit(10000)).as("t2"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1))
  }

  /** The bigram-LM perplexity CTE chain (train on even doc_ids, add-0.5
    * smoothing, ln-sum rounded at 6 dp like text_entropy — the per-doc
    * sum is ~55 doubles, associativity differences sit ~9 orders below
    * the rounding), shared verbatim by the `text_perplexity` and
    * `perplexity_buckets` oracles (one LM definition, the winnowPairsCte
    * discipline).
    */
  private val perplexityCte =
    """toks AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |uni AS (
      |  SELECT w, count(*) AS cw FROM (
      |    SELECT unnest(ws) AS w FROM toks WHERE doc_id % 2 = 0)
      |  WHERE len(w) > 0 GROUP BY w),
      |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
      |bigr AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b
      |  FROM toks WHERE len(ws) >= 2),
      |docbig AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bigr),
      |big AS (
      |  SELECT w1, w2, count(*) AS cb FROM docbig WHERE doc_id % 2 = 0
      |  GROUP BY w1, w2),
      |pplt AS (
      |  SELECT d.doc_id,
      |    count(*) AS n_transitions,
      |    round(exp(-sum(ln((coalesce(cb, 0) + 0.5) /
      |                      (coalesce(cw, 0) + 0.5 * v.v))) / count(*)), 6) AS ppl
      |  FROM docbig d
      |  LEFT JOIN uni u ON u.w = d.w1
      |  LEFT JOIN big b ON b.w1 = d.w1 AND b.w2 = d.w2
      |  CROSS JOIN v
      |  GROUP BY d.doc_id)""".stripMargin

  /** Dynamic oracle for `quality_model_score` (round 16 — the
    * weight-embedding graduation): once a model is trained (the Verify
    * dump runs queries before writing oracle_sql.json), its weights
    * replay the APPLY side in DuckDB — portable-md5 feature hashing,
    * per-doc margin sum over the weight join, sigmoid, round 6 (the
    * per-doc margin is ≤ a few hundred doubles; the float-boundary
    * audit puts the nearest score to a rounding boundary at 4e-4,
    * nine orders above summation-order noise). Training itself stays
    * engine-internal, like bpe_merges / ivf centroids.
    */
  private def qmsOracle: Map[String, String] = {
    // Keyed by the dump's fixture dir (round-17 ADVICE): the memo key
    // already carries the dir, so the lookup selects THE entry for the
    // dir being verified — a second dir touched in the same session no
    // longer downgrades these ids to no-oracle, and a stale entry for
    // a different dir can never embed the wrong model/thresholds.
    def forDir[V](live: List[(String, V)]): List[V] =
      live.collect { case (d, v) if graft.Engine.lastFixtureDir.contains(d) => v }
    val score = forDir(modelCache.live) match {
      case w :: Nil => Map("quality_model_score" -> scoreSql(w))
      case _        => Map.empty[String, String]
    }
    val buckets = forDir(pplThCache.live) match {
      case th :: Nil => Map("perplexity_buckets_approx" -> bucketsApproxSql(th))
      case _        => Map.empty[String, String]
    }
    val ensemble = forDir(modelCache.live) match {
      case w :: Nil => Map("quality_ensemble" -> ensembleSql(w))
      case _        => Map.empty[String, String]
    }
    score ++ buckets ++ ensemble
  }

  /** Weight-embedding oracle for `quality_ensemble`: the learned vote
    * replays through the same feature/margin/score CTEs as
    * `quality_model_score`, the heuristic vote through the exact
    * BIGINT rational composite, the Gopher vote through the rule
    * conjunction — then integer vote counting.
    */
  private def ensembleSql(w: Array[Double]): String = {
    val rows = w.zipWithIndex
      .map { case (v, d) => s"($d, CAST($v AS DOUBLE))" }.mkString(", ")
    s"""WITH wt AS (SELECT * FROM (VALUES $rows) wt(d, wv)),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % $D AS d,
       |    CAST(count(*) AS DOUBLE) AS x
       |  FROM toks WHERE len(t) > 0 GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, $D AS d, 1.0 AS x FROM documents),
       |mg AS (
       |  SELECT doc_id, sum(x * wv) AS m FROM f JOIN wt USING (d)
       |  GROUP BY doc_id),
       |sc AS (SELECT doc_id, round(1.0 / (1.0 + exp(-m)), 6) AS score FROM mg),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
       |    CAST(len(list_filter(string_split(text,' '),
       |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS stop,
       |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS sym,
       |    CAST(nullif(length(text), 0) AS BIGINT) AS len,
       |    (len(string_split(text,' ')) >= 50 AND len(string_split(text,' ')) <= 100000
       |     AND CAST(length(replace(text,' ','')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) >= 3.0
       |     AND CAST(length(replace(text,' ','')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) <= 10.0
       |     AND CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) < 0.1
       |     AND CAST(len(list_filter(string_split(text,' '), x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
       |         / nullif(len(string_split(text,' ')), 0) >= 0.8
       |     AND len(list_filter(string_split(text,' '),
       |         x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2) AS gopher_ok
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, gopher_ok,
       |    CAST((2 * ((w*len) * (5000*least(100, w) + 200000)
       |          + 300000*stop*len - 200000*sym*w) + w*len)
       |      // (2 * w*len) AS BIGINT) AS quality_e6
       |  FROM c),
       |v AS (
       |  SELECT q.doc_id, q.quality_e6, s.score,
       |    coalesce(q.quality_e6 >= 500000, false) AS heuristic_ok,
       |    q.gopher_ok, s.score >= 0.5 AS model_ok
       |  FROM q JOIN sc s USING (doc_id))
       |SELECT doc_id, quality_e6, score, heuristic_ok, gopher_ok, model_ok,
       |  CAST(CAST(heuristic_ok AS INTEGER) + CAST(gopher_ok AS INTEGER)
       |    + CAST(model_ok AS INTEGER) AS BIGINT) AS n_votes,
       |  (CAST(heuristic_ok AS INTEGER) + CAST(gopher_ok AS INTEGER)
       |    + CAST(model_ok AS INTEGER)) >= 2 AS keep
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** Threshold-embedding oracle for `perplexity_buckets_approx` (round
    * 16): the engine's memoized per-language (t1, t2) ride in as a
    * VALUES table; DuckDB re-derives ppl through the shared LM CTE and
    * labels by the same two comparisons.
    */
  private def bucketsApproxSql(th: Array[(String, Double, Double)]): String = {
    val rows = th.map { case (l, t1, t2) =>
      s"('$l', CAST($t1 AS DOUBLE), CAST($t2 AS DOUBLE))" }.mkString(", ")
    s"""WITH $perplexityCte,
       |th AS (SELECT * FROM (VALUES $rows) th(lang, t1, t2)),
       |lab AS (
       |  SELECT p.doc_id, d.lang, p.ppl,
       |    CASE WHEN p.ppl <= t.t1 THEN 'head'
       |         WHEN p.ppl <= t.t2 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM pplt p
       |  JOIN documents d ON d.doc_id = p.doc_id
       |  JOIN th t ON t.lang = d.lang)
       |SELECT doc_id, lang, ppl, bucket FROM lab ORDER BY doc_id""".stripMargin
  }

  private def scoreSql(w: Array[Double]): String = {
    val rows = w.zipWithIndex
      .map { case (v, d) => s"($d, CAST($v AS DOUBLE))" }.mkString(", ")
    s"""WITH w AS (SELECT * FROM (VALUES $rows) w(d, wv)),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % $D AS d,
       |    CAST(count(*) AS DOUBLE) AS x
       |  FROM toks WHERE len(t) > 0 GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, $D AS d, 1.0 AS x FROM documents),
       |m AS (
       |  SELECT doc_id, sum(x * wv) AS m FROM f JOIN w USING (d)
       |  GROUP BY doc_id)
       |SELECT doc_id, round(1.0 / (1.0 + exp(-m)), 6) AS score
       |FROM m ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = qmsOracle ++ Map(
    "text_perplexity" ->
      s"""WITH $perplexityCte
        |SELECT doc_id, n_transitions, ppl FROM pplt ORDER BY doc_id""".stripMargin,
    "perplexity_buckets" ->
      s"""WITH $perplexityCte,
        |lab AS (
        |  SELECT p.doc_id, d.lang, p.ppl,
        |    (row_number() OVER (PARTITION BY d.lang ORDER BY p.ppl, p.doc_id) - 1)
        |      * 3 // (count(*) OVER (PARTITION BY d.lang)) + 1 AS tercile
        |  FROM pplt p JOIN documents d ON d.doc_id = p.doc_id)
        |SELECT doc_id, lang, ppl, CAST(tercile AS BIGINT) AS tercile,
        |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM lab ORDER BY doc_id""".stripMargin
  )
}

package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** North-star LLM-pipeline text operators (SURVEY.md §2.12): text
  * analysis, fingerprinting, exact + near dedup over `documents`.
  *
  * Scale notes: all operators are per-row expressions or key-shuffle
  * aggregations — no driver-side loops, no UDFs; the MinHash-LSH pipeline
  * (see [[NearDedup]]) keeps candidate generation at
  * O(|docs| × bands) rows instead of O(|docs|²).
  */
object TextOps {

  private val stopEn = Seq("the", "a", "of", "and")

  private def stopScore(words: org.apache.spark.sql.Column, ws: Seq[String]) =
    size(filter(words, w => w.isin(ws: _*)))

  /** (n_words, stop_ratio, punct_ratio, quality) for a text column — ONE
    * definition shared by `text_quality` and the `corpus_clean` capstone
    * (two inline copies would silently de-synchronize the capstone from
    * the oracle-checked single operator on the next tweak). The punct
    * denominator is nullif-guarded: Spark's non-ANSI x/0 yields NULL
    * while DuckDB yields IEEE NaN/inf, so an empty text would otherwise
    * be a latent cross-engine hash mismatch — with the guard both
    * engines agree on NULL unconditionally (the oracle mirrors nullif).
    */
  private[llm] def qualitySignals(text: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val words = split(text, " ")
    val nWords = size(words)
    val stopRatio = stopScore(words, stopEn).cast("double") / nWords
    val punctRatio = length(regexp_replace(text, "[a-z ]", "")).cast("double") /
      nullif(length(text), lit(0))
    val q = least(lit(1.0), nWords / 100.0) * 0.5 + stopRatio * 0.3 +
      (lit(1.0) - punctRatio) * 0.2
    (nWords, stopRatio, punctRatio, q)
  }

  /** The [[qualitySignals]] composite as an EXACT integer rational —
    * (numerator, denominator) BIGINT columns with
    * q·10⁶ = num/den, den = n_words·length(text) (nullif-guarded like
    * the float form, so empty text is NULL in both engines):
    *
    *   num = den·(5000·min(100, w) + 200000) + 300000·stop·len
    *         − 200000·sym·w
    *
    * Round-16 adjudication: `round(q·1e6)` over the IEEE composite
    * left the driver-side DuckDB free to differ in the last ulp at
    * exact .5 micro-unit boundaries (5 sf0.01 docs sit within 1e-9 of
    * one), and the flipped integer was also the selection sort key.
    * Every term here is a ratio of integer counts, so clearing
    * denominators removes floats from the compare path entirely;
    * callers round with the exact half-up identity
    * (2·num + den) div (2·den), mirrored verbatim in the oracle SQL.
    * Overflow headroom (round-17 ADVICE: state the BINDING bound, not
    * just the quality one): num ≤ ~10⁶·w·len, so the quality_e6
    * half-up identity (2·num + den) holds in BIGINT to
    * w·len < ~4.6·10¹² (~10 MB docs). The density_e9 consumers
    * (selectBudget/selectBudgetApprox: 2000·num + den·w over
    * den·w·2 = 2·w²·len) multiply by a further 1000, so THEIR bound is
    * w·len < ~4.6·10⁹ AND w²·len < ~4.6·10¹⁵ — a ~1 MB doc with ~2e5
    * words overflows, where Spark wraps silently and DuckDB errors on
    * BIGINT overflow. Contract: the density path requires
    * w·len < 4.6·10⁹ per doc; corpora must enter it gated (the Gopher
    * wc ≤ 100k-word rule bounds w·len ≤ ~10⁹ for any real text, since
    * len ≤ ~10·w for word-shaped input — uncurated blobs must be
    * length-capped first, or score density via the already-rounded
    * quality_e6 over n_tokens, which re-bases the rational at
    * num ≤ 10⁶·w and removes the 2000× factor).
    */
  private[llm] def qualityE6Rational(text: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column) = {
    val words = split(text, " ")
    val w = size(words).cast("long")
    val stop = stopScore(words, stopEn).cast("long")
    val sym = length(regexp_replace(text, "[a-z ]", "")).cast("long")
    val len = nullif(length(text), lit(0)).cast("long")
    val den = w * len
    val num = den * (lit(5000L) * least(lit(100L), w) + lit(200000L)) +
      lit(300000L) * stop * len - lit(200000L) * sym * w
    (w, num, den)
  }

  /** The density_e9 key with the overflow contract ENFORCED in-engine
    * (round-18 VERDICT task 2). The exact form's binding bound is
    * 2000·num ≈ 2·10⁹·(w·len) < 2⁶³, so for qden = w·len ≥ 2·10⁹ the
    * CASE re-bases density on the already-rounded quality_e6
    * (num ≤ 10⁶·w·len holds to w·len < 4.6·10¹², ~10 MB docs) —
    * density_e9 = half-up(quality_e6·1000/n_tokens), the re-basing the
    * contract comment above proposed. Under the guard the whole key is
    * total for any ≤10 MB doc: no silent wrap, no engine throw (Spark 4
    * runs ANSI-on and THROWS on BIGINT overflow — OverflowContractSpec —
    * so an ungated corpus previously crashed the query in BOTH engines
    * rather than diverging). In-contract docs take the exact branch
    * unchanged, so all fixture outputs are bit-identical; both engines
    * evaluate CASE branches lazily, so the guarded multiply never
    * executes out-of-contract. Mirrored verbatim in the two density
    * oracles; planted ~1 MB-doc parity pinned by OverflowContractSpec
    * and the tools/OverflowFixture differential.
    */
  private[llm] val densityE9Expr: org.apache.spark.sql.Column = expr(
    """CASE WHEN qden < 2000000000L
      |  THEN (qnum * 2000 + qden * n_tokens) DIV (qden * n_tokens * 2)
      |  ELSE ((qnum * 2 + qden) DIV (qden * 2) * 2000 + n_tokens) DIV (n_tokens * 2)
      |END""".stripMargin)

  /** (doc_id, n_tokens, density_e9) over a documents table — the shared
    * scoring front of `select_budget_density` and the planted-overflow
    * spec (one definition so the spec exercises the id's own key).
    */
  private[llm] def scoreDensity(docs: DataFrame): DataFrame = {
    val (nWords, num, den) = qualityE6Rational(col("text"))
    docs
      .select(col("doc_id"), nWords.as("n_tokens"),
        num.as("qnum"), den.as("qden"))
      .withColumn("density_e9", densityE9Expr)
      .select("doc_id", "n_tokens", "density_e9")
  }


  /** The Gopher rule gate (Rae et al. 2021, Appendix A) as named column
    * expressions over `col("text")` — ONE definition shared by the
    * `gopher_rules` audit id and the `corpus_export` capstone (the
    * [[qualitySignals]] one-definition discipline: an inline copy would
    * silently de-synchronize the capstone's gate from the
    * oracle-checked audit on the next threshold tweak). All five
    * signals are per-row expressions over one split() — a narrow
    * codegen'd scan, no shuffle.
    */
  private[llm] object GopherGate {
    private val words = split(col("text"), " ")
    val nWords: org.apache.spark.sql.Column = size(words)
    val meanWl: org.apache.spark.sql.Column =
      length(translate(col("text"), " ", "")).cast("double") / nullif(nWords, lit(0))
    val symRatio: org.apache.spark.sql.Column =
      size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
        .cast("double") / nullif(nWords, lit(0))
    val alphaFrac: org.apache.spark.sql.Column =
      size(filter(words, w => w.rlike("[a-z]"))).cast("double") / nullif(nWords, lit(0))
    val nStop: org.apache.spark.sql.Column = size(filter(words,
      w => w.isin("the", "be", "to", "of", "and", "that", "have", "with")))
    val wcOk: org.apache.spark.sql.Column = nWords >= 50 && nWords <= 100000
    val mwlOk: org.apache.spark.sql.Column = meanWl >= 3.0 && meanWl <= 10.0
    val symOk: org.apache.spark.sql.Column = symRatio < 0.1
    val alphaOk: org.apache.spark.sql.Column = alphaFrac >= 0.8
    val stopOk: org.apache.spark.sql.Column = nStop >= 2
    val keep: org.apache.spark.sql.Column = wcOk && mwlOk && symOk && alphaOk && stopOk
  }

  /** Shared engine of `select_budget_approx` / `select_budget_density_
    * approx`: per-doc exact-integer key (quality_e6 or density_e9) →
    * token histogram per key level → driver-derived integer admission
    * threshold → one broadcast comparison per doc. The histogram
    * collect is bounded by the key's micro-unit range (≤10⁶+1 levels);
    * the threshold is the ONE scalar the id "trains".
    */
  private val budgetThCache = Memo.slot[(String, Boolean), Long]("TextOps.budgetThCache")

  private def selectBudgetApprox(s: SparkSession, dir: String,
      density: Boolean): DataFrame = {
    val budget = 10000L
    val (nWords, num, den) = qualityE6Rational(col("text"))
    val keyName = if (density) "density_e9" else "quality_e6"
    val keyExpr = if (density) densityE9Expr
    else expr("(qnum * 2 + qden) DIV (qden * 2)")
    def scored = Tables(s, dir).documents
      .select(col("doc_id"), nWords.as("n_tokens"),
        num.as("qnum"), den.as("qden"))
      .withColumn(keyName, keyExpr)
      .select("doc_id", "n_tokens", keyName)
    // bounded histogram → exact integer threshold, derived driver-side
    // (no global window anywhere on the doc-scale path) and memoized
    // per (session, dir, key) — the one scalar this id "trains"
    val qStar: Long = budgetThCache(s, (dir, density)) {
      val hist = scored.filter(col(keyName).isNotNull)
        .groupBy(keyName)
        .agg(sum(col("n_tokens")).as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(-_._1)
      var cum = 0L
      var q = Long.MaxValue // empty selection if not even the top level fits
      for ((lvl, t) <- hist) {
        cum += t
        if (cum <= budget) q = lvl
      }
      q
    }
    scored.filter(col(keyName) >= lit(qStar)).orderBy("doc_id")
  }

  /** Stopword-vote language prediction — shared by `lang_id` and
    * `corpus_clean` for the same single-definition reason.
    */
  private[llm] def langPred(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val words = split(text, " ")
    val sEn = stopScore(words, stopEn)
    when(stopScore(words, Seq("le", "la", "et", "les")) > sEn, "fr")
      .when(stopScore(words, Seq("el", "los", "y", "que")) > sEn, "es")
      .when(stopScore(words, Seq("der", "die", "und", "das")) > sEn, "de")
      .otherwise("en")
  }

  /** WINNOWING (Schleimer, Wilkerson & Aiken) over `(doc_id, text)`
    * rows: k-gram hash sequence → sliding window of `w` → keep each
    * window's minimum, ties to the RIGHTMOST position, consecutive
    * duplicates collapsed. Guarantees a fingerprint in every run of w
    * grams (so any shared substring of ≥ t = w + k − 1 tokens is
    * detectable by fingerprint intersection) at ~2/(w+1) selection
    * density. The (w, k) surface is the tuning knob the published
    * algorithm exposes — t is the noise threshold a corpus picks per
    * document length (defaults match the round-13 index: w = 4, k = 3,
    * t = 6; the guarantee is spec-pinned at BOTH a default and a
    * non-default setting). Pure per-row HOF arithmetic — no shuffle;
    * shared by the query ids and the planted-corpus spec.
    */
  def winnowFingerprints(docs: DataFrame, w: Int = 4, k: Int = 3): DataFrame = {
    require(w >= 2 && k >= 1, s"winnow window w=$w must be >= 2, gram k=$k >= 1")
    val ws = split(col("text"), " ")
    // greatest(.., 1): sequence() DESCENDS when stop < start, so a
    // sub-window doc would walk indices 0 and below (element_at(ws, 0)
    // errors) if this expression is ever evaluated SPECULATIVELY —
    // the InferFiltersFromGenerate hazard documented at
    // [[NearDedup.shingleArrays]]. Docs passing the size filter below
    // always have stop >= 1, so the floor cannot change any emitted row.
    val grams = transform(sequence(lit(1), greatest(size(col("ws")) - (k - 1), lit(1))),
      i => Sampling.hashBucket(concat_ws(" ",
        (0 until k).map(o => element_at(col("ws"), i + o)): _*), hexDigits = 14))
    val sel = transform(sequence(lit(1), greatest(size(col("hs")) - (w - 1), lit(1))), j => {
      val win = slice(col("hs"), j, lit(w))
      val minv = array_min(win)
      // fold over window offsets: acc ends at the LAST offset whose
      // hash equals the minimum — the rightmost-tie winnowing rule
      val rk = aggregate(sequence(lit(0), lit(w - 1)), lit(0),
        (acc, kk) => when(element_at(col("hs"), j + kk) === minv, kk).otherwise(acc))
      struct((j + rk).cast("long").as("pos"), minv.as("h"))
    })
    // spread first: the md5-per-gram HOF is the CPU core, and the
    // fixture parquet is single-row-group — without the exchange the
    // whole corpus hashes in ONE task (measured 2.5 s -> sub-second at
    // sf0.1; on a real cluster the scan itself supplies parallelism
    // and this is a cheap balanced exchange, the Engine.spread contract)
    graft.Engine.spread(docs.select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= w + k - 1) // >= w grams = one full window
      .select(col("doc_id"), grams.as("hs"))
      .select(col("doc_id"), explode(array_distinct(sel)).as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
  }

  /** MOSS pair scoring (the shared core of `dedup_winnow` and the
    * cluster/apply pair below): doc pairs sharing >= 2 winnow
    * fingerprints with the df-cap guard, scored by containment over the
    * UNCAPPED per-doc selection-set sizes. ONE h-keyed aggregate feeds
    * both the pair path and the size path (array_distinct inside the
    * list replaces a separate (doc_id, h) distinct exchange): the
    * branches share an identical subtree, so exchange/stage reuse runs
    * the winnow HOF and the h-shuffle ONCE — the tfidf_topk round-12
    * lesson applied at design time. Emits (doc1, doc2, n_shared, n1,
    * n2, containment); n1/n2 ride along so consumers can threshold in
    * INTEGER form (no cross-engine float boundary).
    */
  private[graft] def winnowPairs(docs: DataFrame, dfCap: Int = 100): DataFrame =
    winnowPairsFrom(winnowFingerprints(docs), dfCap)

  /** [[winnowPairs]] over a PRECOMPUTED fingerprint table — the r19
    * seam that lets the corpus-path consumers ride the per-corpus
    * [[winnowedFps]] memo instead of re-running the winnow HOF (the
    * family's CPU core) once per consumer.
    */
  private[graft] def winnowPairsFrom(fps: DataFrame, dfCap: Int = 100): DataFrame = {
    val postingsAll = fps
      .groupBy("h")
      .agg(sort_array(array_distinct(collect_list(col("doc_id")))).as("ds"))
    val postings = postingsAll.filter(size(col("ds")).between(2, dfCap))
    val common = postings
      .select(posexplode(col("ds")).as(Seq("i", "doc1")), col("ds"))
      .select(col("doc1"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    // sizes (UNCAPPED distinct-fingerprint count per doc) derive from
    // the same aggregate; un-hinted joins — AQE picks the strategy
    // from runtime stats (the dedup_jaccard sizes rationale)
    val sizes = postingsAll.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    common
      .join(sizes.select(col("doc_id").as("doc1"), col("n").as("n1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("n").as("n2")), "doc2")
      .select(col("doc1"), col("doc2"), col("n_shared"), col("n1"), col("n2"),
        (col("n_shared").cast("double") / least(col("n1"), col("n2"))).as("containment"))
  }

  /** Cluster labels over the MOSS pair graph, memoized per (session,
    * dir) like NearDedup's [[NearDedup.connectedComponents]] consumers:
    * `dedup_winnow_cluster` reports the labels and `dedup_winnow_apply`
    * anti-joins the survivors, so the pairs+CC pipeline must run once,
    * not once per consumer. Edges are containment >= 0.8 in INTEGER
    * form (5·n_shared >= 4·min(n1,n2)) — no float boundary exists
    * cross-engine, the decon_overlap convention.
    */
  private val winnowClusterCache = Memo.slot[String, DataFrame]("TextOps.winnowClusterCache")

  /** Memoized per-corpus winnow fingerprint table (doc_id, pos, h) —
    * the [[NearDedup.shingled]] cost model applied to the MOSS family:
    * `fingerprint_winnow`, `dedup_winnow`, the [[winnowClusters]] build
    * and `dedup_winnow_incr`'s batch/bootstrap all consume the SAME
    * selection (the winnow HOF is the family's CPU core and its
    * consumers sit under different exchanges, so Catalyst never shares
    * it). MEMORY_AND_DISK: ~2/(w+1) of the corpus gram stream at 100 TB
    * — must spill, not OOM. Released at family boundaries by
    * [[graft.Memo.release]]; build cost lands in first-run numbers like every
    * other per-corpus memo.
    */
  private val winnowFpCache = Memo.slot[String, DataFrame]("TextOps.winnowFpCache")

  private[graft] def winnowedFps(s: SparkSession, dir: String): DataFrame = {
    winnowFpCache(s, dir)(
      winnowFingerprints(Tables(s, dir).documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  private def winnowClusters(s: SparkSession, dir: String): DataFrame = {
    winnowClusterCache(s, dir) {
      val edges = winnowPairsFrom(winnowedFps(s, dir))
        .filter(col("n_shared") * 5 >= least(col("n1"), col("n2")) * 4)
        .select("doc1", "doc2")
      NearDedup.connectedComponents(edges)
    }
  }

  /** The BM25 per-(query-term, candidate) weight shared by the inline
    * (`bm25_topk`) and index-served (`bm25_disk`) paths — ONE formula
    * body, so disk ≡ memory is structural, not a coincidence of two
    * transcriptions. Robertson k1=1.2 b=0.75, Lucene's non-negative
    * idf ln(1+(N−df+0.5)/(df+0.5)).
    */
  private def bm25Weight(tf: org.apache.spark.sql.Column,
      df: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
      dl: org.apache.spark.sql.Column,
      avgdl: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (k1, b) = (1.2, 0.75)
    log(lit(1.0) + (n - df + 0.5) / (df + 0.5)) * (tf * (k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))
  }

  /** Memoized per-corpus (doc_id, term, tf) table — the in-memory twin
    * of the postings table [[saveTextIndex]] persists to disk: a 100 TB
    * retrieval deployment tokenizes and aggregates its postings ONCE per
    * corpus and serves every query from the artifact. Built on first use
    * per (session, dir), released at family boundaries by
    * [[graft.Memo.release]] like every other per-corpus memo. r19: the inline
    * BM25 ids used to re-derive this subtree per reference — Catalyst
    * never CSE'd it, so bm25_prf's two-pass plan tokenized documents 28
    * times (plans/r19/bm25_prf_before.txt).
    */
  private val bm25TfCache = Memo.slot[String, (DataFrame, DataFrame, DataFrame, DataFrame)]("TextOps.bm25TfCache")

  /** Corpus statistics for inline BM25 passes, memoized per (session,
    * dir): the postings table (tf), per-term df and per-doc length are
    * each persisted — the in-memory mirror of the three tables
    * [[saveTextIndex]] persists to disk — so the two-pass prf id and
    * repeated family members probe cached aggregates instead of
    * re-deriving the subtree per reference. The (N, avgdl) scalar table
    * stays lazy (two 1-row aggregates over cached inputs).
    */
  private def bm25Corpus(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    bm25TfCache(s, dir) {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // spread: single-row-group fixture — tokenize+aggregate would
      // otherwise run in one task (the Engine.spread contract)
      val tf = graft.Engine.spread(Tables(s, dir).documents, "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist(lvl)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df")).persist(lvl)
      val dlen = tf.groupBy("doc_id")
        .agg(sum(col("tf")).cast("double").as("dl")).persist(lvl)
      val stats = Tables(s, dir).documents.agg(count(lit(1)).cast("double").as("n"))
        .crossJoin(dlen.agg(avg(col("dl")).as("avgdl")))
      (tf, dfreq, dlen, stats)
    }
  }

  /** One BM25 scoring pass for a broadcastable (q_id, term) query set:
    * df is restricted to the query terms BEFORE broadcasting (the full
    * df table is corpus-vocabulary-sized — billions of terms at 100 TB,
    * unbroadcastable; (q_id, term, df) is |query terms| rows), then one
    * postings join and the per-candidate weight.
    */
  private def bm25Contrib(qterms: DataFrame, tf: DataFrame,
      dfreq: DataFrame, dlen: DataFrame, stats: DataFrame): DataFrame = {
    val qdf = broadcast(qterms.join(dfreq, "term"))
    qdf.join(tf.withColumnRenamed("doc_id", "c_id"), "term")
      .filter(col("c_id") =!= col("q_id"))
      .join(dlen.withColumnRenamed("doc_id", "c_id"), "c_id")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        bm25Weight(col("tf"), col("df"), col("n"), col("dl"), col("avgdl")))
  }

  /** The shared BM25 tail: per-(q,c) sum rounded to 6 dp (the
    * dsir_score ulp adjudication) ranked with c_id ties, top-k.
    */
  private def bm25Rank(contrib: DataFrame, k: Int): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
    contrib.groupBy("q_id", "c_id")
      .agg(round(sum(col("w")), 6).as("score"))
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "c_id", "score")
      .orderBy("q_id", "rank")
  }

  // --- Persisted inverted index (bm25_disk) --------------------------
  //
  // The lexical twin of ann_ivfpq_disk: a 100 TB corpus tokenizes and
  // aggregates its postings ONCE, then serves queries from the durable
  // artifact for weeks. Layout — all plain parquet:
  //   <path>/postings/ (term, c_id, tf) range-partitioned AND sorted by
  //                    term: every file/row-group carries a tight
  //                    (min,max) term range, so a query's static term
  //                    filter skips whole files at the scan. This is
  //                    the right pruning tool for an OPEN key space
  //                    (vocabulary), where ann_ivfpq_disk's directory-
  //                    per-key partitioning would create millions of
  //                    directories.
  //   <path>/df/      (term, df) — same layout
  //   <path>/doclen/  (c_id, dl)
  //   <path>/stats/   (n, avgdl) — 1 row
  //   <path>/_graft_index_ok — commit marker written LAST (staged-
  //                    commit convention; re-save over a committed
  //                    index is a no-op)

  /** Number of text-index builds this JVM has run (save-once
    * observability, mirroring VectorOps.ivfPqSaveCount).
    */
  val textIndexSaveCount = new java.util.concurrent.atomic.AtomicInteger(0)

  def saveTextIndex(docs: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_index_ok")
    if (fs.exists(marker)) return
    textIndexSaveCount.incrementAndGet()
    // staged commit (the Stream.scala/NearDedup protocol): build the
    // whole artifact — marker INCLUDED — in a sibling stage dir, then
    // one rename publishes it. A reader never sees a half-written
    // index (bm25TopKDisk requires the marker, which only exists
    // inside a fully-built tree), and a build torn by a crash leaves
    // only an orphan stage dir, not a corrupt root.
    val stage = new org.apache.hadoop.fs.Path(
      path + ".stage-" + java.util.UUID.randomUUID)
    val tf = docs
      .select(col("doc_id").as("c_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("c_id", "term").agg(count(lit(1)).as("tf"))
      .persist() // feeds postings, df and doclen; released below
    tf.repartitionByRange(col("term")).sortWithinPartitions("term", "c_id")
      .write.mode("overwrite").parquet(s"$stage/postings")
    tf.groupBy("term").agg(count(lit(1)).as("df"))
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$stage/df")
    tf.groupBy("c_id").agg(sum(col("tf")).cast("double").as("dl"))
      .write.mode("overwrite").parquet(s"$stage/doclen")
    tf.unpersist()
    // stats as ADDITIVE components, not derived ratios: appends write
    // one more (n, n_len, total_dl) row and serving sums before the
    // one division — the LSM trick that lets df/stats merge at read.
    // dl is an integer-valued double, so the sums are exact and
    // sum/count is bit-identical to the inline path's avg(dl).
    docs.agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(s.read.parquet(s"$stage/doclen")
        .agg(count(lit(1)).cast("double").as("n_len"),
          sum(col("dl")).as("total_dl")))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/stats")
    fs.create(new org.apache.hadoop.fs.Path(stage, "_graft_index_ok"), true)
      .close()
    if (fs.exists(root)) {
      if (fs.exists(marker)) {
        // a concurrent builder won with a complete index; ours is surplus
        require(fs.delete(stage, true), s"failed to discard stage $stage")
        return
      }
      // torn remains of an earlier non-staged attempt: safe to clear —
      // no marker means no reader ever accepted it
      require(fs.delete(root, true), s"failed to clear torn index at $path")
    }
    require(fs.rename(stage, root), s"failed to publish text index $stage -> $path")
  }

  /** BM25 served from a committed [[saveTextIndex]] artifact. The query
    * is driver-side (as in any search engine), so its distinct terms —
    * bounded by |queries|·doc-length — become a STATIC `term IN (...)`
    * filter on the postings and df scans, pushed to parquet column
    * statistics; with term-sorted files that is file/row-group
    * skipping, the lexical analogue of the disk ANN path's partition
    * pruning. Same weight formula and ranking tail as `bm25_topk`, so
    * disk ≡ memory row-for-row (spec-pinned).
    */
  def bm25TopKDisk(docs: DataFrame, queryIds: Seq[Long], k: Int,
      path: String): DataFrame = {
    val s = docs.sparkSession
    val hp = new org.apache.hadoop.fs.Path(path, "_graft_index_ok")
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(hp), s"no committed text index at $path")
    val live = currentTextGen(s, path)
    import s.implicits._
    val qt = docs.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("q_id"), explode(split(col("text"), " ")).as("term"))
      .distinct().as[(Long, String)].collect()
    val terms = qt.map(_._2).distinct.toSeq
    val post = s.read.parquet(tablePaths(s, live, "postings"): _*)
      .filter(col("term").isin(terms: _*))
    // read-time merge of the LSM generations ([[appendTextIndex]]):
    // batches have disjoint doc ids, so df rows are ADDITIVE per term
    // (summed here, AFTER the pushed term filter — query-vocab rows
    // only) and the stats components sum before the one division. On a
    // never-appended index both reduce to the single build's values.
    val dfq = s.read.parquet(tablePaths(s, live, "df"): _*)
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(sum(col("df")).as("df"))
    val dlen = s.read.parquet(tablePaths(s, live, "doclen"): _*)
    val stats = broadcast(s.read.parquet(tablePaths(s, live, "stats"): _*)
      .agg(sum(col("n")).as("n"),
        (sum(col("total_dl")) / sum(col("n_len"))).as("avgdl")))
    val contrib = broadcast(qt.toSeq.toDF("q_id", "term").join(dfq, "term"))
      .join(post, "term")
      .filter(col("c_id") =!= col("q_id"))
      .join(dlen, "c_id")
      .crossJoin(stats)
      .withColumn("w",
        bm25Weight(col("tf"), col("df"), col("n"), col("dl"), col("avgdl")))
    bm25Rank(contrib, k)
  }

  // --- Text-index compaction: the generation-pointer protocol --------
  //
  // Appends accrete small postings files AND df/stats delta rows; at
  // 100 TB a year of daily appends turns the pushed-filter scan into
  // thousands of file opens and the read-time df merge into a real
  // aggregation. Compaction rewrites the LIVE generation with the
  // merges APPLIED (df one row per term, stats one row, postings
  // re-sorted by term) into a new `gen-NNNNNNNN` directory and
  // atomically repoints `_current` — the same root-pointer protocol as
  // the IVF-PQ index (VectorOps.compactIvfPqIndex): readers resolve
  // the pointer at plan time and see a whole generation, never a
  // half-written mix; no pointer means the initial build's root
  // layout, so existing indexes need no migration.

  /** The live generation's path prefix: `<path>` for the initial root
    * layout, `<path>/gen-NNNNNNNN` after a compaction.
    */
  private def currentTextGen(s: SparkSession, path: String): String = {
    val cur = new org.apache.hadoop.fs.Path(path, "_current")
    val fs = cur.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(cur)) path
    else {
      val in = fs.open(cur)
      val gen = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      s"$path/$gen"
    }
  }

  /** Rewrite the live generation with all LSM merges applied and
    * atomically repoint `_current` at it. Superseded generations stay
    * for in-flight readers until [[gcTextIndex]].
    */
  def compactTextIndex(s: SparkSession, path: String): Unit = {
    val live = currentTextGen(s, path)
    val gen =
      if (live == path) 1
      else live.substring(live.lastIndexOf("gen-") + 4).toInt + 1
    val next = f"gen-$gen%08d"
    s.read.parquet(tablePaths(s, live, "postings"): _*)
      .repartitionByRange(col("term")).sortWithinPartitions("term", "c_id")
      .write.mode("overwrite").parquet(s"$path/$next/postings")
    s.read.parquet(tablePaths(s, live, "df"): _*)
      .groupBy("term").agg(sum(col("df")).as("df"))
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/$next/df")
    s.read.parquet(tablePaths(s, live, "doclen"): _*)
      .write.mode("overwrite").parquet(s"$path/$next/doclen")
    s.read.parquet(tablePaths(s, live, "stats"): _*)
      .agg(sum(col("n")).as("n"), sum(col("n_len")).as("n_len"),
        sum(col("total_dl")).as("total_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/$next/stats")
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path, s"_current.$next.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.getBytes("UTF-8")) finally out.close()
    // FileContext rename with OVERWRITE: the atomic primitive plain
    // FileSystem.rename lacks (it refuses an existing destination)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(root).toUri, conf)
    fc.rename(fs.makeQualified(tmp),
      fs.makeQualified(new org.apache.hadoop.fs.Path(path, "_current")),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Delete superseded generations — older `gen-*` directories and,
    * once a compaction exists, the initial root-layout tables. Returns
    * what was removed. Run once in-flight readers have drained.
    */
  def gcTextIndex(s: SparkSession, path: String): Seq[String] = {
    val live = currentTextGen(s, path)
    if (live == path) return Nil // nothing compacted yet: root IS live
    val liveName = live.substring(live.lastIndexOf('/') + 1)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n != liveName &&
        (n.startsWith("gen-") || n.startsWith("delta-") ||
          Seq("postings", "df", "doclen", "stats").contains(n)))
      .map { n =>
        require(fs.delete(new org.apache.hadoop.fs.Path(path, n), true),
          s"failed to delete superseded generation piece $n")
        n
      }
  }

  /** Index maintenance without rebuild — the lexical `add_with_ids`:
    * a batch of NEW documents (ids disjoint from the indexed corpus —
    * the same contract as [[graft.llm.VectorOps.appendIvfPqIndex]])
    * lands as one atomically-committed delta directory; existing files are never rewritten, so
    * concurrent readers stay consistent and the append costs ∝ batch.
    * Postings and doclen rows are per-doc facts (plain appends); df
    * and stats are AGGREGATES, so the batch appends its own partial
    * rows — per-term df deltas, one (n, n_len, total_dl) component row
    * — and [[bm25TopKDisk]] merges them at read (sum per term after
    * the pushed filter; sum the stats components): the LSM write path,
    * where ann_ivfpq_append needed none because codes carry no
    * corpus-level aggregate.
    */
  def appendTextIndex(batch: DataFrame, path: String): Unit = {
    val s = batch.sparkSession
    val hp = new org.apache.hadoop.fs.Path(path, "_graft_index_ok")
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(hp), s"no committed text index at $path")
    val live = currentTextGen(s, path)
    // the batch's four tables land as ONE `delta-<uuid>` directory,
    // built under a `_stage-` prefix (invisible to readers — Spark's
    // file index skips `_`/`.` paths) and committed by one directory
    // rename: the batch is fully visible or fully absent, never torn.
    // Four independent mode-append writes could not give this — a crash
    // between the postings and doclen appends would duplicate the
    // batch's postings on redelivery and silently corrupt scores.
    // Existing files are never touched, so concurrent readers stay
    // consistent and the append costs ∝ batch.
    val id = java.util.UUID.randomUUID.toString
    val stage = s"$live/_stage-$id"
    val tf = batch
      .select(col("doc_id").as("c_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("c_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    tf.repartitionByRange(col("term")).sortWithinPartitions("term", "c_id")
      .write.mode("overwrite").parquet(s"$stage/postings")
    tf.groupBy("term").agg(count(lit(1)).as("df"))
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$stage/df")
    val dlen = tf.groupBy("c_id").agg(sum(col("tf")).cast("double").as("dl"))
    dlen.write.mode("overwrite").parquet(s"$stage/doclen")
    tf.unpersist()
    batch.agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(dlen.agg(count(lit(1)).cast("double").as("n_len"),
        sum(col("dl")).as("total_dl")))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/stats")
    require(fs.rename(new org.apache.hadoop.fs.Path(stage),
      new org.apache.hadoop.fs.Path(s"$live/delta-$id")),
      s"failed to commit index delta $stage")
  }

  /** All committed locations of table `name` in the live generation:
    * the base build plus every committed delta, oldest-first (`_stage-`
    * dirs are in flight and excluded; Spark's own file index would skip
    * their `_` prefix anyway).
    */
  private def tablePaths(s: SparkSession, live: String, name: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(live)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val deltas = fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("delta-")).sorted
    s"$live/$name" +: deltas.map(d => s"$live/$d/$name")
  }

  /** One micro-batch of continuous indexing: admit `batch` against the
    * index at `path` — the first batch BUILDS the index, later ones
    * append a committed delta. Exactly-once under redelivery: docs
    * whose id is already in the live doclen are dropped before the
    * append (the [[NearDedup.admitBatchToState]] guard — an
    * at-least-once source replays whole batches, and a replayed batch
    * here would double-count the ADDITIVE df/stats partials, not just
    * duplicate rows). A crash inside [[appendTextIndex]] leaves only an
    * invisible `_stage-` dir, so redelivery re-admits the same docs to
    * one committed delta — the batch is atomic.
    */
  def indexBatchToState(batch: DataFrame, path: String): Unit = {
    val s = batch.sparkSession
    val hp = new org.apache.hadoop.fs.Path(path, "_graft_index_ok")
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) { saveTextIndex(batch, path); return }
    val live = currentTextGen(s, path)
    val seen = s.read.parquet(tablePaths(s, live, "doclen"): _*)
      .select(col("c_id").as("doc_id"))
    val fresh = batch.join(seen, Seq("doc_id"), "left_anti")
    if (!fresh.isEmpty) appendTextIndex(fresh, path)
  }

  private val textIndexStreamPaths = Memo.shared[String, String]("TextOps.textIndexStreamPaths")

  /** The continuous-indexing demo's index (bm25_stream): the corpus
    * arrives as three batches (doc_id mod 3) folded through
    * [[indexBatchToState]], with batch 0 REDELIVERED after batch 2 —
    * the at-least-once failure the guard exists for. Sharing
    * bm25_topk's oracle then proves both ends: the incremental build
    * reconstructs the full corpus statistics exactly, AND the
    * redelivered batch changed nothing.
    */
  private[graft] def textIndexStreamDemoPath(s: SparkSession, dir: String): String =
    textIndexStreamPaths(dir) {
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val path = s"${sys.props("java.io.tmpdir")}/graft_textidxstream_$key"
      val done = new org.apache.hadoop.fs.Path(path, "_graft_stream_ok")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        val docs = Tables(s, dir).documents
        (0 to 2).foreach(b =>
          indexBatchToState(docs.filter(col("doc_id") % 3 === b), path))
        indexBatchToState(docs.filter(col("doc_id") % 3 === 0), path) // redelivery
        fs.create(done, true).close()
      }
      path
    }

  private val textIndexAppendPaths = Memo.shared[String, String]("TextOps.textIndexAppendPaths")

  /** The append demo's index (bm25_append): built from the EVEN doc_ids
    * only, then the odd half is appended through [[appendTextIndex]]
    * and a second marker commits the two-step build — the
    * ivfPqAppendDemoPath convention, including the content-derived
    * recovery guard (odd ids already in doclen?) that keeps a run torn
    * between the append and its marker from double-appending, which
    * here would corrupt the ADDITIVE df/stats rows, not just duplicate
    * code rows.
    */
  private[graft] def textIndexAppendDemoPath(s: SparkSession, dir: String): String =
    textIndexAppendPaths(dir) {
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val path = s"${sys.props("java.io.tmpdir")}/graft_textidxapp_$key"
      val done = new org.apache.hadoop.fs.Path(path, "_graft_append_ok")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        val docs = Tables(s, dir).documents
        saveTextIndex(docs.filter(col("doc_id") % 2 === 0), path)
        val hasOdd = {
          val live = currentTextGen(s, path)
          s.read.parquet(tablePaths(s, live, "doclen"): _*)
        }
          .filter(col("c_id") % 2 === 1).limit(1).count() > 0
        if (!hasOdd) appendTextIndex(docs.filter(col("doc_id") % 2 === 1), path)
        fs.create(done, true).close()
      }
      path
    }

  private val textIndexPaths = Memo.shared[String, String]("TextOps.textIndexPaths")

  /** Deterministic per-corpus location for the demo id's persisted
    * index, built on first use (untimed artifact, like every memoized
    * per-corpus structure).
    */
  private[graft] def textIndexPath(s: SparkSession, dir: String): String =
    textIndexPaths(dir) {
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val path = s"${sys.props("java.io.tmpdir")}/graft_textidx_$key"
      saveTextIndex(Tables(s, dir).documents, path)
      path
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "text_stats" -> ((s, dir) =>
      Tables(s, dir).documents
        .withColumn("words", split(col("text"), " "))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars2"),
          size(col("words")).cast("long").as("n_words"),
          size(array_distinct(col("words"))).cast("long").as("n_uniq"),
          (length(translate(col("text"), " ", "")).cast("double") / size(col("words")))
            .as("avg_word_len"),
          // stopScore, not an inline copy: the shared definition is the
          // point (a stop-list tweak must reach every consumer)
          (stopScore(col("words"), stopEn).cast("double") /
            size(col("words"))).as("stop_ratio"))
        .orderBy("doc_id")),

    "token_count" -> ((s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        // BPE-ish pre-tokenizer: letter runs | digit runs | single punct
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("re_tokens")
      ).orderBy("doc_id")),

    "fingerprint" -> ((s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        sha2(trim(regexp_replace(lower(col("text")), "\\s+", " ")), 256).as("fp")
      ).orderBy("doc_id")),

    // WINNOWING (round 13) — the local fingerprint-selection algorithm
    // of Schleimer, Wilkerson & Aiken (MOSS): over the doc's 3-gram
    // hash sequence, slide a window of w = 4 and keep the window
    // minimum, ties to the RIGHTMOST position; dedup consecutive
    // selections. Guarantees every run of w grams contributes at least
    // one fingerprint (the detection guarantee the whole-doc
    // `fingerprint` sha lacks) at ~2/(w+1) density. Pure per-row HOF
    // arithmetic over the split array — no shuffle but the
    // presentation sort; the selected (pos, hash) table is exactly
    // what a plagiarism/overlap index ingests at scale.
    "fingerprint_winnow" -> ((s, dir) =>
      winnowedFps(s, dir).orderBy("doc_id", "pos")),

    // MOSS pair detection (round 13) — the winnowing index applied:
    // doc pairs sharing >= 2 selected fingerprints, scored by
    // containment (shared / smaller fingerprint set). Same posting-
    // list shape and df-cap guard as `dedup_jaccard` (a fingerprint
    // in df docs emits df·(df-1)/2 pairs — ubiquitous boilerplate
    // minima are quadratic on one key and carry no discrimination;
    // the oracle mirrors the cap exactly so the check stays exact).
    // Denominators use the UNCAPPED per-doc fingerprint counts, so
    // containment is a true fraction of each doc's selection set.
    "dedup_winnow" -> ((s, dir) =>
      winnowPairsFrom(winnowedFps(s, dir))
        .select("doc1", "doc2", "n_shared", "containment")
        .orderBy("doc1", "doc2")),

    // MOSS pairs CONSUMED (round 14 — the application side every other
    // dedup family already has): edges at containment >= 0.8 (integer
    // form) -> connected components -> each cluster keeps its canonical
    // minimum-id member. The labels come from the memoized
    // [[winnowClusters]] table shared with `dedup_winnow_apply`.
    "dedup_winnow_cluster" -> ((s, dir) =>
      winnowClusters(s, dir).orderBy("doc_id")),

    // the APPLICATION: corpus minus non-canonical cluster members — the
    // operator a pipeline actually runs over the MOSS index. The
    // cluster table is one row per CLUSTERED doc (tiny vs the corpus);
    // AQE broadcasts the anti-join side, so the corpus is scanned once
    // and never collected — the dedup_apply contract
    // (NearDedup.scala `dedup_apply`) applied to the winnow family.
    "dedup_winnow_apply" -> ((s, dir) => {
      val dropped = winnowClusters(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      Tables(s, dir).documents
        .join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),

    // lang-ID confusion matrix (round 16) — the eval table every
    // language-identification deployment reads before trusting the
    // router: true label × predicted label × doc count, plus the
    // per-cell share of the TRUE label's row (exact micro-units — a
    // count/count ratio in BIGINT rational form, the round-16
    // discipline). Shares [[langPred]] with `lang_id`/`corpus_clean`
    // (one predictor definition); ONE narrow scan + a ≤|langs|²-row
    // counting aggregate + one tiny window over the count table.
    // On the synthetic fixture the matrix is all-'en' — the corpus
    // text is English-ish regardless of its lang label, and saying so
    // is exactly this table's job (the router would be unusable here);
    // discrimination on discriminable data is pinned by the planted-
    // corpus spec (French/German stopword docs land off-diagonal).
    "lang_confusion" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      Tables(s, dir).documents
        .select(col("lang"), langPred(col("text")).as("pred"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("row_total", sum(col("n_docs")).over(w))
        .withColumn("share_e6",
          expr("(2 * n_docs * 1000000 + row_total) DIV (2 * row_total)"))
        .select("lang", "pred", "n_docs", "row_total", "share_e6")
        .orderBy("lang", "pred")
    }),

    "lang_id" -> ((s, dir) => {
      // n-gram/stopword-vote heuristic; deterministic priority tiebreak.
      val d = Tables(s, dir).documents.withColumn("words", split(col("text"), " "))
      d.select(
        col("doc_id"),
        col("lang"),
        stopScore(col("words"), stopEn).cast("long").as("s_en"),
        stopScore(col("words"), Seq("le", "la", "et", "les")).cast("long").as("s_fr"),
        stopScore(col("words"), Seq("el", "los", "y", "que")).cast("long").as("s_es"),
        stopScore(col("words"), Seq("der", "die", "und", "das")).cast("long").as("s_de"),
        langPred(col("text")).as("pred"))
        .orderBy("doc_id")
    }),

    // per-doc Unicode script composition (round 13) — the multilingual
    // curation signal beside lang_id's stopword vote: code-point counts
    // per script block + a deterministic dominant-script pick (priority
    // order breaks exact ties). One narrow projection — the
    // regexp_replace length deltas stay inside whole-stage codegen, so
    // at 100 TB this is a pure map over the corpus scan like
    // text_stats. Block ranges are spelled \x{...} (the class syntax
    // Java regex and DuckDB's RE2 share, byte-identical semantics).
    // The driver fixture is ASCII (latin-dominant everywhere — the
    // oracle still pins the plumbing end to end); the mixed-script
    // NonAsciiFixture differential + NonAsciiFixtureSpec give the
    // ranges real coverage.
    "script_profile" -> ((s, dir) => {
      def cnt(cls: String) =
        (length(col("text")) - length(regexp_replace(col("text"), cls, ""))).cast("long")
      val nLatin  = cnt("[A-Za-z\\x{00C0}-\\x{024F}]")
      val nCyr    = cnt("[\\x{0400}-\\x{04FF}]")
      val nGreek  = cnt("[\\x{0370}-\\x{03FF}]")
      val nArabic = cnt("[\\x{0600}-\\x{06FF}]")
      val nCjk    = cnt("[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}]")
      val m = greatest(nLatin, nCyr, nGreek, nArabic, nCjk)
      Tables(s, dir).documents
        .select(col("doc_id"), length(col("text")).cast("long").as("n_cp"),
          nLatin.as("n_latin"), nCyr.as("n_cyrillic"), nGreek.as("n_greek"),
          nArabic.as("n_arabic"), nCjk.as("n_cjk"))
        .withColumn("main_script",
          when(greatest(col("n_latin"), col("n_cyrillic"), col("n_greek"),
            col("n_arabic"), col("n_cjk")) === 0, lit("none"))
            .when(col("n_latin") === greatest(col("n_cyrillic"), col("n_greek"),
              col("n_arabic"), col("n_cjk"), col("n_latin")), lit("latin"))
            .when(col("n_cyrillic") === greatest(col("n_greek"), col("n_arabic"),
              col("n_cjk"), col("n_cyrillic")), lit("cyrillic"))
            .when(col("n_greek") === greatest(col("n_arabic"), col("n_cjk"),
              col("n_greek")), lit("greek"))
            .when(col("n_arabic") === greatest(col("n_cjk"), col("n_arabic")), lit("arabic"))
            .otherwise(lit("cjk")))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, dir) => {
      // composite quality score from exact counts; all double arithmetic
      // in a fixed order so DuckDB computes bit-identical values.
      val (nWords, stopRatio, punctRatio, quality) = qualitySignals(col("text"))
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          nWords.cast("long").as("n_words"),
          stopRatio.as("stop_ratio"),
          punctRatio.as("punct_ratio"),
          quality.as("quality"))
        .orderBy("doc_id")
    }),

    // Readability scoring (round 15 — the Flesch/FK curation signal
    // "textbook-quality" filters use alongside Gopher rules): per doc,
    // word / sentence / syllable-heuristic counts and the two classic
    // scores. All counts are exact integers (sentences = runs of
    // [.!?], syllables = runs of ASCII vowels either case — no lower()
    // so no cross-engine unicode-casing contract), and each score is
    // algebraically cleared to ONE int/int IEEE division (the
    // adjudicated-safe float class): flesch = 206.835 − 1.015·W/S −
    // 84.6·Syl/W multiplied through by 1000·S·W. Zero-word/zero-
    // sentence docs use greatest(·,1) floors on BOTH sides. A narrow
    // codegen projection — no shuffle, the cheapest signal shape at
    // 100 TB.
    "text_readability" -> ((s, dir) => {
      val wc = size(filter(split(col("text"), " "), w => length(w) > 0)).cast("long")
      val sc = size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long")
      val yc = size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"), lit(0))).cast("long")
      Tables(s, dir).documents
        .select(col("doc_id"), wc.as("n_words"), sc.as("n_sents"), yc.as("n_syll"))
        .withColumn("w1", greatest(col("n_words"), lit(1L)))
        .withColumn("s1", greatest(col("n_sents"), lit(1L)))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          ((lit(206835L) * col("s1") * col("w1")
            - lit(1015L) * col("w1") * col("w1")
            - lit(84600L) * col("n_syll") * col("s1")).cast("double")
            / (lit(1000L) * col("s1") * col("w1"))).as("flesch"),
          ((lit(39L) * col("w1") * col("w1")
            + lit(1180L) * col("n_syll") * col("s1")
            - lit(1559L) * col("s1") * col("w1")).cast("double")
            / (lit(100L) * col("s1") * col("w1"))).as("fk_grade"))
        .orderBy("doc_id")
    }),

    "dedup_exact" -> ((s, dir) =>
      Tables(s, dir).documents
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), md5(col("text")).as("h"))
        .orderBy("keep_id")),

    // token-budget corpus selection: a training run buys a FIXED token
    // budget, so take the highest-quality documents first until it is
    // spent — the greedy knapsack every budget-constrained data
    // curation ends with (quality per token is uniform here; a
    // value-density variant divides quality by n_tokens in the sort
    // key). Order = (quality_e6 desc, doc_id) where quality_e6 is the
    // composite scaled to integer micro-units computed in EXACT BIGINT
    // rational arithmetic ([[qualityE6Rational]]; round 16 — the
    // round-14 `round(q*1e6)` form moved the float boundary instead of
    // removing it, and the driver's DuckDB flipped 5 sf0.01 docs
    // sitting within 1e-9 of a .5 micro-unit): no IEEE value exists on
    // the sort key, the emitted column, or the oracle. The running
    // total is an exact integer sum. Keep while cum ≤ budget (the
    // boundary doc that would overflow is dropped). Like dsir_select,
    // the exact form is one global window — correct to tens of
    // millions of docs; the 100 TB twin (`select_budget_approx`)
    // thresholds on an approx quality quantile.
    "select_budget" -> ((s, dir) => {
      val (nWords, num, den) = qualityE6Rational(col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("quality_e6").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables(s, dir).documents
        .select(col("doc_id"), nWords.as("n_tokens"),
          num.as("qnum"), den.as("qden"))
        .withColumn("quality_e6", expr("(qnum * 2 + qden) DIV (qden * 2)"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 10000)
        .select("doc_id", "n_tokens", "quality_e6", "cum_tokens")
        .orderBy("doc_id")
    }),

    // the VALUE-DENSITY twin of `select_budget` (round 15 — the variant
    // its own comment documents): the textbook knapsack greedy ranks by
    // quality PER TOKEN, not raw quality — under a fixed token budget a
    // long mediocre doc that happens to score well absolutely crowds
    // out several short high-density docs; density order buys more
    // quality per budget token. Sort key and output are integer
    // nano-units computed in the same EXACT BIGINT rational arithmetic
    // as `select_budget` (round 16): density·1e9 = 1000·num/(den·w), so
    // round half-up = (2000·num + den·w) div (2·den·w) — no IEEE value
    // anywhere (1e9 because densities of long docs are ~q/1000). Same
    // single-global-window exact form and approx-quantile 100 TB twin
    // as `select_budget`.
    "select_budget_density" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("density_e9").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      scoreDensity(Tables(s, dir).documents)
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 10000)
        .select("doc_id", "n_tokens", "density_e9", "cum_tokens")
        .orderBy("doc_id")
    }),

    // the 100 TB twin of `select_budget` (round 16, VERDICT item 6 —
    // the dsir_select_approx shape adapted to a TOKEN budget): instead
    // of one global doc sort, aggregate the corpus into a
    // (quality_e6 → Σ tokens) HISTOGRAM — bounded at ≤10⁶+1 distinct
    // micro-unit levels by construction, realistically a few hundred —
    // collect it driver-side (the bounded-model discipline of
    // ivfModel/BPE merges), derive the admission threshold
    // q* = min{q : Σ tokens over levels ≥ q ≤ budget} in exact integer
    // arithmetic, and admit docs with ONE broadcast comparison
    // quality_e6 ≥ q*. Zero global sorts, zero single-partition
    // windows; per-doc cost is one codegen'd compare. Approximation
    // contract: whole quality LEVELS are admitted, so the result is
    // the exact greedy selection minus its partially-fitting boundary
    // level (⊆ exact, never over budget) — pinned in CurationSpec.
    // The oracle replays the identical integer rule in SQL.
    "select_budget_approx" -> ((s, dir) =>
      selectBudgetApprox(s, dir, density = false)),

    // the density twin (`select_budget_density`'s 100 TB form): same
    // histogram-threshold admission keyed on density_e9.
    "select_budget_density_approx" -> ((s, dir) =>
      selectBudgetApprox(s, dir, density = true)),

    // Training-window chunking: split each document into fixed-size word
    // windows with overlap (chunk 16, stride 8 — the sliding-context
    // shape every pretraining tokenizer pipeline feeds). One narrow
    // projection + ONE generator (posexplode of the start offsets); the
    // chunk text is sliced from the already-split word array, so the
    // document is split exactly once, not once per chunk. Scale: output
    // is ~n_words/stride rows per doc, produced map-side with no shuffle
    // (the orderBy is presentation-only for the oracle compare).
    "text_chunk" -> ((s, dir) => {
      val chunk = 16
      val stride = 8
      val d = Tables(s, dir).documents
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 1)
      d.select(
          col("doc_id"),
          posexplode(sequence(lit(0), size(col("words")) - 1, lit(stride)))
            .as(Seq("chunk_idx", "start")),
          col("words"))
        .select(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          slice(col("words"), col("start") + 1, lit(chunk)).as("cw"))
        .select(
          col("doc_id"), col("chunk_idx"),
          size(col("cw")).cast("long").as("n_chunk_words"),
          array_join(col("cw"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Unigram diversity signals: Shannon entropy of the word
    // distribution and type-token ratio — the standard repetitiveness /
    // degenerate-text filters next to the Gopher repetition scores.
    // Entropy uses the one-pass identity H = ln(n) - (Σ c·ln c)/n so a
    // single explode → two-level key-shuffle aggregation computes it
    // (map-side partials apply at both levels); rounded to 6dp because
    // float addition order differs per engine.
    "text_entropy" -> ((s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n"),
          count(lit(1)).as("types"),
          sum(col("c") * log(col("c"))).as("clc"))
        .select(
          col("doc_id"),
          col("n").cast("long").as("n_tokens"),
          col("types").cast("long").as("n_types"),
          round(col("types").cast("double") / col("n"), 6).as("ttr"),
          round(log(col("n")) - col("clc") / col("n"), 6).as("entropy"))
        .orderBy("doc_id")),

    // Per-source corpus health report — the dashboard query every
    // curation pipeline runs before/after a cleaning pass: volume,
    // token mass, exact-dup exposure, language mix, mean quality. One
    // window (global dup flag over text) + one aggregation; every
    // signal reuses the single shared definition (qualitySignals /
    // langPred) so the report can never drift from the oracle-checked
    // per-doc operators.
    "corpus_report" -> ((s, dir) => {
      val (nWords, _, _, quality) = qualitySignals(col("text"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
      Tables(s, dir).documents
        .withColumn("dup", (count(lit(1)).over(w) > 1).cast("long"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nWords).cast("long").as("total_tokens"),
          round(avg(nWords), 6).as("avg_tokens"),
          sum(col("dup")).as("n_exact_dup"),
          round(avg((langPred(col("text")) === "en").cast("long")), 6).as("en_share"),
          round(avg(quality), 6).as("avg_quality"))
        .orderBy("source")
    }),

    // Compression-ratio quality signal (the "gzip ratio" gate of
    // CCNet-descendant pipelines): deflate_size(text)/octet_length —
    // template spam compresses ≪ prose, base64/binary junk ≈ 1. Runs
    // the engine's native codegen [[graft.functions.DeflateSize]]
    // Expression, so the whole signal is ONE narrow whole-stage-codegen
    // scan with zero per-row allocation beyond the UTF-8 copy. Rows-only
    // (DuckDB has no deflate); ordering semantics pinned in CurationSpec
    // on planted repetitive/prose/high-entropy docs.
    "text_compress_ratio" -> ((s, dir) => {
      graft.functions.DeflateSize.ensureRegistered(s)
      val raw = octet_length(col("text")).cast("long")
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          raw.as("n_bytes"),
          graft.functions.DeflateSize.deflate_size(col("text")).as("n_deflate"))
        .withColumn("ratio",
          round(col("n_deflate").cast("double") / nullif(col("n_bytes"), lit(0L)), 6))
        .orderBy("doc_id")
    }),

    // Gopher rule-based quality gates (Rae et al. 2021, Appendix A —
    // the MassiveText filter every modern corpus pipeline reruns:
    // Dolma, FineWeb, RefinedWeb all cite these exact thresholds).
    // Unlike `text_quality`'s composite score, this is the per-RULE
    // boolean gate vector + the conjunction keep flag, so a pipeline
    // can audit WHICH rule rejected a document. All five signals are
    // per-row expressions over one split() — a single narrow scan, no
    // shuffle (the orderBy is presentation-only); at 100 TB this is
    // the cheapest possible filter shape, and rules short-circuit
    // inside whole-stage codegen.
    "gopher_rules" -> ((s, dir) => {
      val g = GopherGate
      Tables(s, dir).documents.select(
        col("doc_id"),
        g.nWords.cast("long").as("n_words"),
        round(g.meanWl, 6).as("mean_word_len"),
        round(g.symRatio, 6).as("symbol_ratio"),
        round(g.alphaFrac, 6).as("alpha_frac"),
        g.nStop.cast("long").as("n_stop"),
        g.wcOk.as("wc_ok"), g.mwlOk.as("mwl_ok"), g.symOk.as("sym_ok"),
        g.alphaOk.as("alpha_ok"), g.stopOk.as("stop_ok"),
        g.keep.as("keep"))
        .orderBy("doc_id")
    }),

    // quality-signal calibration (round 15 cont.) — the agreement
    // matrix between the two independent rule-based quality filters
    // (the composite text_quality score, banded, × the Gopher gate
    // verdict), the table a data team reads before choosing which
    // filter gates the corpus: off-diagonal mass = documents the two
    // signals DISAGREE on, exactly where a threshold tweak moves
    // tokens. Banding is integer-exact end-to-end (round 16: the
    // micro-unit comes from [[qualityE6Rational]]'s BIGINT arithmetic,
    // not round(float·10⁶) — the same latent boundary that flipped
    // select_budget lives in this shared composite), so the whole
    // report is deterministic cross-engine. ONE join-free
    // narrow scan computes both signals side by side (both are
    // per-row expressions over one split()), then a ≤22-row count
    // aggregate — the cheapest audit shape at 100 TB.
    "quality_calibration" -> ((s, dir) => {
      val g = GopherGate
      val (_, num, den) = qualityE6Rational(col("text"))
      Tables(s, dir).documents
        .select(num.as("qnum"), den.as("qden"), g.keep.as("gopher_keep"))
        .select(expr("((qnum * 2 + qden) DIV (qden * 2)) DIV 100000").as("q_band"),
          col("gopher_keep"))
        .groupBy("q_band", "gopher_keep")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("q_band", "gopher_keep")
    }),

    // the retention FUNNEL report (round 15) — the first table every
    // data team reads off a pipeline run: docs and tokens surviving
    // each successive gate (raw → exact dedup → near-dup canonical →
    // Gopher rules), with retention fractions against the raw corpus.
    // `corpus_clean` EXECUTES a curation pass; this id ACCOUNTS for
    // one — which gate eats the tokens decides where tuning effort
    // goes. ONE corpus scan computes all gate flags side by side
    // (exact keeper = min doc_id over the text partition — the
    // dedup_exact rule as a window; near keeper = not a non-canonical
    // member of the memoized cluster labels shared with
    // dedup_cluster/dedup_apply; gopher = the shared GopherGate
    // conjunction), then ONE single-row aggregate counts every stage
    // prefix and a 4-way literal stack shapes the report — no
    // per-stage rescans. Retention fractions are single long/long
    // IEEE divisions (bit-identical cross-engine, the decon_overlap
    // adjudication).
    "corpus_funnel" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val g = GopherGate
      val w = org.apache.spark.sql.expressions.Window.partitionBy("text")
      val nonCanon = graft.llm.NearDedup.clusters(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), lit(true).as("is_dup"))
      val flags = docs
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          g.keep.as("g_ok"))
        .withColumn("is_exact", col("doc_id") === min(col("doc_id")).over(w))
        .join(nonCanon, Seq("doc_id"), "left")
        .withColumn("is_near", col("is_dup").isNull)
      // localCheckpoint the ONE-row aggregate before the 4-way stack:
      // without it each stacked stage re-executes the whole
      // flags pipeline (scan + text window + cluster join) — 4 corpus
      // scans for a 4-row report
      val a = flags.agg(
        count(lit(1)).as("d0"), sum(col("n_tokens")).as("t0"),
        count(when(col("is_exact"), 1)).as("d1"),
        coalesce(sum(when(col("is_exact"), col("n_tokens"))), lit(0L)).as("t1"),
        count(when(col("is_exact") && col("is_near"), 1)).as("d2"),
        coalesce(sum(when(col("is_exact") && col("is_near"), col("n_tokens"))), lit(0L)).as("t2"),
        count(when(col("is_exact") && col("is_near") && col("g_ok"), 1)).as("d3"),
        coalesce(sum(when(col("is_exact") && col("is_near") && col("g_ok"), col("n_tokens"))), lit(0L)).as("t3"))
        .localCheckpoint()
      val stages = Seq((0, "raw"), (1, "exact_dedup"), (2, "near_dedup"), (3, "gopher"))
      stages.map { case (i, name) =>
        a.select(lit(i.toLong).as("stage"), lit(name).as("gate"),
          col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens"),
          (col(s"d$i").cast("double") / col("d0")).as("docs_frac"),
          (col(s"t$i").cast("double") / col("t0")).as("tokens_frac"))
      }.reduce(_ unionByName _).orderBy("stage")
    }),

    // the capstone composition — a full corpus-curation pass as ONE
    // declarative plan: quality filter → language filter → exact dedup
    // (min-id survivor) → leakage-safe hash split → audit counts.
    // Narrow projections → one window (dedup) → one aggregation; every
    // stage is an operator proven bit-identical above, so the whole
    // pipeline stays hash-exact vs the oracle.
    "corpus_clean" -> ((s, dir) => {
      val (nWords, _, _, quality) = qualitySignals(col("text"))
      val kept = Tables(s, dir).documents
        .filter(quality >= 0.5 && langPred(col("text")) === "en")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
      val deduped = kept
        .withColumn("keep", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep"))
      Sampling.splitAssign(deduped, "doc_id")
        .groupBy("source", "split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nWords).cast("long").as("total_tokens"))
        .orderBy("source", "split")
    }),

    // per-doc TF-IDF keywords (top-3): the classic feature-extraction /
    // keyword-audit pass. Two map-side-combinable aggregations (term
    // frequency per doc, document frequency per term) + one per-doc
    // window — no all-pairs stage; the corpus size N rides in as a
    // 1-row broadcast. Ranking keys on the ROUNDED score + term so the
    // top-3 cut is deterministic and engine-agnostic (an unrounded
    // order could break ties differently across engines at 1e-9).
    // Unicode NFC normalization via the engine's codegen Expression
    // ([[graft.functions.NfcNormalize]]) — the canonical pre-tokenization
    // step before fingerprint/shingle/dedup, so identical visible text
    // always hashes identically. Pure per-row projection, no shuffle;
    // stays inside whole-stage codegen (a UDF here would de-optimize the
    // single hottest full-corpus scan of a curation pipeline). The
    // synthetic corpus is ASCII (NFC = identity — the oracle still
    // hash-checks the plumbing end-to-end); CurationSpec pins real
    // composition cases (combining accents, compatibility non-cases).
    "text_normalize" -> ((s, dir) => {
      graft.functions.NfcNormalize.ensureRegistered(s)
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          graft.functions.NfcNormalize.nfc_normalize(col("text")).as("norm_text"))
        .withColumn("n_norm_chars", length(col("norm_text")).cast("long"))
        .orderBy("doc_id")
    }),

    "tfidf_topk" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df derives from tf, and the sum(tf) rider is a correctness-free
      // anchor that keeps the column pruner from reducing this branch's
      // (doc_id, term) aggregate to a bare distinct: with both branches
      // carrying the IDENTICAL aggregate+exchange subtree, ReusedExchange
      // collapses them — ONE corpus scan and one (doc_id, term) shuffle
      // feed tf and df, instead of the tokenizer scan running twice
      // (measured 0.30× vs 0.24× of linear at the 25× probe).
      val dfreq = tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("__ctf"))
        .filter(col("__ctf") >= 0) // always true: anchors the rider against pruning
        .drop("__ctf")
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("df")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tfidf")
        .orderBy("doc_id", "rank")
    }),

    // BM25 ranked retrieval (Robertson k1=1.2 b=0.75, Lucene's
    // non-negative idf form): the lexical half of every retrieval
    // stack. Queries are docs 0..7 as bags of DISTINCT terms (qtf=1,
    // the standard practical form). tf/df/doc-length all derive from
    // the ONE memoized postings table ([[bm25Tf]] — the in-memory twin
    // of the disk index's postings); query terms and the (N, avgdl)
    // scalars are broadcast, so the corpus-sized stages are the
    // postings join and ONE (q_id, c_id)-keyed sum. Score rounds to 6
    // dp before ranking
    // (ln ulp noise sits ~7 orders below — the dsir_score
    // adjudication), ties to c_id: deterministic cross-engine.
    "bm25_topk" -> ((s, dir) => {
      val (tf, dfreq, dlen, stats) = bm25Corpus(s, dir)
      val qterms = broadcast(tf.filter(col("doc_id") < 8)
        .select(col("doc_id").as("q_id"), col("term")))
      bm25Rank(bm25Contrib(qterms, tf, dfreq, dlen, stats), 10)
    }),

    // pseudo-relevance-feedback query expansion (Rocchio-style
    // two-pass retrieval, the RM3 shape with unweighted union): round
    // 1 = BM25 top-10; expansion = the 5 terms with the highest total
    // tf across the feedback docs that are NOT already query terms
    // (integer sum, term tiebreak — deterministic cross-engine); round
    // 2 = BM25 over original ∪ expansion terms. Fixes the lexical-gap
    // failure every pure term-match retriever has: a relevant doc
    // using synonyms of the query surfaces through co-occurrence in
    // the feedback set. Everything stays query-vocab-sized on the
    // broadcast side: feedback lists are |q|·10 rows, expansion adds
    // ≤5 terms/query, and the corpus-sized stages remain the one
    // postings join + one (q,c) sum per pass.
    "bm25_prf" -> ((s, dir) => {
      val (tf, dfreq, dlen, stats) = bm25Corpus(s, dir)
      // qbase stays UN-hinted: it is also unioned into q2 below, and a
      // broadcast hint nested under q2's own hint has no join of its own
      // to attach to (the "not part of a join relation" warning —
      // VERDICT r18 #10); the hint is applied per join site instead
      val qbase = tf.filter(col("doc_id") < 8)
        .select(col("doc_id").as("q_id"), col("term"))
      val qterms = broadcast(qbase)
      val fb = bm25Rank(bm25Contrib(qterms, tf, dfreq, dlen, stats), 10)
        .select(col("q_id"), col("c_id"))
      val expWin = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("tw").desc, col("term"))
      val expansion = fb
        .join(tf.withColumnRenamed("doc_id", "c_id"), "c_id")
        .groupBy("q_id", "term").agg(sum(col("tf")).as("tw"))
        .join(qterms, Seq("q_id", "term"), "left_anti")
        .withColumn("r", row_number().over(expWin))
        .filter(col("r") <= 5)
        .select("q_id", "term")
      val q2 = broadcast(qbase.unionByName(expansion))
      bm25Rank(bm25Contrib(q2, tf, dfreq, dlen, stats), 10)
    }),

    // the index-served twin: the same BM25 search answered from the
    // persisted inverted index ([[saveTextIndex]]) — postings/df/
    // doclen/stats read back from parquet, query terms applied as a
    // STATIC pushed filter on the term-sorted postings scan. Same
    // weight body and ranking tail as bm25_topk, same ORACLE as
    // bm25_topk: the index must be a lossless representation of the
    // corpus statistics, and the differential proves it at 3 SFs.
    "bm25_disk" -> ((s, dir) =>
      bm25TopKDisk(Tables(s, dir).documents, queryIds = 0L until 8L,
        k = 10, path = textIndexPath(s, dir))),

    // index maintenance without rebuild: the served index was built
    // from the EVEN doc_ids and the odd half APPENDED as LSM partials
    // (per-term df deltas, an additive stats component row) merged at
    // read. Shares bm25_topk's oracle verbatim — the differential
    // proves the merged statistics are EXACTLY the full-corpus
    // statistics, i.e. the append path is lossless, not approximately
    // right.
    "bm25_append" -> ((s, dir) =>
      bm25TopKDisk(Tables(s, dir).documents, queryIds = 0L until 8L,
        k = 10, path = textIndexAppendDemoPath(s, dir))),

    // continuous indexing: the served index was built by folding the
    // corpus through indexBatchToState as THREE micro-batches, with the
    // first batch REDELIVERED afterwards (the at-least-once failure the
    // doc-id guard exists for). Shares bm25_topk's oracle verbatim:
    // equality proves the incremental build reconstructs the full
    // corpus statistics exactly AND the redelivered batch changed
    // nothing — exactly-once, checked by the differential itself.
    "bm25_stream" -> ((s, dir) =>
      bm25TopKDisk(Tables(s, dir).documents, queryIds = 0L until 8L,
        k = 10, path = textIndexStreamDemoPath(s, dir))),

    // offline retrieval evaluation as an operator — the ranking-metric
    // battery (recall@10, MRR, binary nDCG@10) of the lexical list
    // against the exact-cosine list as relevance truth: the report a
    // pipeline runs to decide retriever settings before A/B cost.
    // Rank-based: recall and MRR are exact integer/rational arithmetic;
    // nDCG's log2 discounts round at 6 dp (the dsir adjudication — and
    // IDCG is a 10-term constant both engines fold in the same
    // ascending order). Metric inputs are the two |q|·10-row lists, so
    // the metric stage itself is free at any corpus size.
    "retrieve_metrics" -> ((s, dir) => {
      val truth = VectorOps.queries("sim_topk")(s, dir)
        .select(col("q_id"), col("c_id"), lit(1).as("relv"))
      val bm = queries("bm25_topk")(s, dir).select("q_id", "c_id", "rank")
      val idcg = (1 to 10).map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum
      bm.join(truth, Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(
          round(sum(coalesce(col("relv"), lit(0))).cast("double") / 10, 6)
            .as("recall10"),
          round(coalesce(lit(1.0) /
            min(when(col("relv") === 1, col("rank"))), lit(0.0)), 6).as("mrr"),
          round(sum(when(col("relv") === 1,
            lit(1.0) / log(2.0, col("rank") + 1)).otherwise(lit(0.0))) / idcg, 6)
            .as("ndcg10"))
        .orderBy("q_id")
    }),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009,
    // rrf_k=60) of the BM25 list and the exact-cosine list (sim_topk)
    // — the standard lexical+vector fusion every production retrieval
    // stack runs. RRF is RANK-based: each list contributes
    // 1/(60+rank), so the fused score is two exact double divisions
    // from integer ranks — hash-exact cross-engine with no rounding
    // adjudication at all (the reason RRF beats score-interpolation
    // for an oracle-checked id AND for real systems: no score
    // calibration between incomparable scales). Both input lists are
    // |q|·10 rows, so the fusion stage costs nothing at any corpus
    // size — scale lives entirely in the input retrievers, both
    // already probed at 25×.
    "retrieve_hybrid" -> ((s, dir) => {
      val bm = queries("bm25_topk")(s, dir)
        .select(col("q_id"), col("c_id"), col("rank").as("r_bm"))
      val cs = VectorOps.queries("sim_topk")(s, dir)
        .select(col("q_id"), col("c_id"), col("rank").as("r_cos"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("rrf").desc, col("c_id"))
      bm.join(cs, Seq("q_id", "c_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_cos")), lit(0.0)))
        .withColumn("rank", row_number().over(win).cast("long"))
        .filter(col("rank") <= 10)
        .select("q_id", "rank", "c_id", "rrf", "r_bm", "r_cos")
        .orderBy("q_id", "rank")
    }),

    // corpus vocabulary with cumulative coverage — the tokenizer-training
    // input (which terms cover X% of the token stream). The groupBy count
    // is the distributed part (the only corpus-sized stage, map-side
    // combinable); the ordered window runs over the COUNT TABLE, which is
    // vocabulary-sized (≪ corpus — the standard reason vocab builds are
    // cheap even at 100 TB), so its single-partition sort is bounded.
    "vocab_coverage" -> ((s, dir) => {
      val counts = Tables(s, dir).documents
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val ord = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("term"))
      counts
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum", sum(col("cnt")).over(
          ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .withColumn("total", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(col("rank") <= 50)
        .select(col("rank"), col("term"), col("cnt"),
          round(col("cum").cast("double") / col("total"), 6).as("cum_frac"))
        .orderBy("rank")
    })
  )

  /** The winnow pairs+sizes CTE chain shared verbatim by the
    * `dedup_winnow` / `dedup_winnow_cluster` / `dedup_winnow_apply`
    * oracles (one definition — a df-cap or gram tweak must reach all
    * three, the [[winnowPairs]] single-subtree rule mirrored on the
    * oracle side).
    */
  private val winnowPairsCte =
    """t AS (
      |  SELECT doc_id, string_split(text,' ') AS ws FROM documents
      |  WHERE len(string_split(text,' ')) >= 6),
      |g AS (
      |  SELECT doc_id, list_transform(range(1, len(ws) - 1),
      |    i -> CAST('0x' || substring(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),1,14) AS BIGINT)) AS hs
      |  FROM t),
      |w AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS j FROM g),
      |m AS (
      |  SELECT doc_id, hs, j,
      |    list_aggregate(hs[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)], 'min') AS h
      |  FROM w),
      |fp AS (SELECT DISTINCT doc_id, h FROM m),
      |capped AS (SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND 100),
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_shared
      |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
      |  WHERE a.h IN (SELECT h FROM capped)
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |sz AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY doc_id)""".stripMargin

  /** Pairs → containment-thresholded edges (INTEGER form, 0.8) → the
    * recursive min-label walk → (doc_id, cluster_id) labels; the oracle
    * mirror of [[winnowClusters]] (same fixpoint as the engine's CC:
    * min reachable id, execution-order independent).
    */
  private val winnowLabelsCte =
    """edges AS (
      |  SELECT doc1, doc2 FROM pairs
      |  JOIN sz s1 ON s1.doc_id = doc1
      |  JOIN sz s2 ON s2.doc_id = doc2
      |  WHERE n_shared * 5 >= 4 * least(s1.n, s2.n)),
      |e2 AS (SELECT doc1 AS a, doc2 AS b FROM edges UNION SELECT doc2, doc1 FROM edges),
      |walk(node, label) AS (
      |  SELECT a, a FROM e2
      |  UNION
      |  SELECT e.a, wk.label FROM e2 e JOIN walk wk ON wk.node = e.b),
      |lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars2,
        |  len(string_split(text,' ')) AS n_words,
        |  len(list_distinct(string_split(text,' '))) AS n_uniq,
        |  CAST(length(replace(text,' ','')) AS DOUBLE) / len(string_split(text,' ')) AS avg_word_len,
        |  CAST(len(list_filter(string_split(text,' '),
        |       w -> w IN ('the','a','of','and'))) AS DOUBLE) / len(string_split(text,' ')) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id, len(string_split(text,' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id, sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint_winnow" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |  WHERE len(string_split(text,' ')) >= 6),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, len(ws) - 1),
        |    i -> CAST('0x' || substring(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),1,14) AS BIGINT)) AS hs
        |  FROM t),
        |w AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS j FROM g),
        |m AS (
        |  SELECT doc_id, hs, j,
        |    list_aggregate(hs[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)], 'min') AS h
        |  FROM w),
        |sel AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(j + list_aggregate(list_transform(range(4),
        |      k -> CASE WHEN hs[CAST(j + k AS INTEGER)] = h THEN k ELSE 0 END),
        |      'max') AS BIGINT) AS pos,
        |    h
        |  FROM m)
        |SELECT doc_id, pos, h FROM sel ORDER BY doc_id, pos""".stripMargin,
    "dedup_winnow" ->
      s"""WITH $winnowPairsCte
        |SELECT doc1, doc2, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(n_shared AS DOUBLE) / least(s1.n, s2.n) AS containment
        |FROM pairs
        |JOIN sz s1 ON s1.doc_id = doc1
        |JOIN sz s2 ON s2.doc_id = doc2
        |ORDER BY doc1, doc2""".stripMargin,
    "dedup_winnow_cluster" ->
      s"""WITH RECURSIVE $winnowPairsCte,
        |$winnowLabelsCte
        |SELECT doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin,
    "dedup_winnow_apply" ->
      s"""WITH RECURSIVE $winnowPairsCte,
        |$winnowLabelsCte
        |SELECT d.doc_id, md5(d.text) AS h FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
        |ORDER BY d.doc_id""".stripMargin,
    // one predictor definition with lang_id; shares BIGINT-exact
    "lang_confusion" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) AS s_en,
        |    len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(string_split(text,' '), w -> w IN ('el','los','y','que'))) AS s_es,
        |    len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das'))) AS s_de
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN s_fr > s_en THEN 'fr' WHEN s_es > s_en THEN 'es'
        |         WHEN s_de > s_en THEN 'de' ELSE 'en' END AS pred
        |  FROM sc),
        |cnt AS (SELECT lang, pred, count(*) AS n_docs FROM p GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, pred, n_docs,
        |    CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS row_total
        |  FROM cnt)
        |SELECT lang, pred, n_docs, row_total,
        |  CAST((2 * n_docs * 1000000 + row_total) // (2 * row_total) AS BIGINT) AS share_e6
        |FROM tot ORDER BY lang, pred""".stripMargin,
    "lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) AS s_en,
        |    len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(string_split(text,' '), w -> w IN ('el','los','y','que'))) AS s_es,
        |    len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das'))) AS s_de
        |  FROM documents)
        |SELECT doc_id, lang, s_en, s_fr, s_es, s_de,
        |  CASE WHEN s_fr > s_en THEN 'fr' WHEN s_es > s_en THEN 'es'
        |       WHEN s_de > s_en THEN 'de' ELSE 'en' END AS pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "script_profile" ->
      """WITH c AS (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_cp,
        |    CAST(len(text) - len(regexp_replace(text,
        |      '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(len(text) - len(regexp_replace(text,
        |      '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(text) - len(regexp_replace(text,
        |      '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
        |    CAST(len(text) - len(regexp_replace(text,
        |      '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
        |    CAST(len(text) - len(regexp_replace(text,
        |      '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]', '', 'g')) AS BIGINT) AS n_cjk
        |  FROM documents)
        |SELECT doc_id, n_cp, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
        |  CASE WHEN greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk) = 0 THEN 'none'
        |       WHEN n_latin = greatest(n_cyrillic, n_greek, n_arabic, n_cjk, n_latin) THEN 'latin'
        |       WHEN n_cyrillic = greatest(n_greek, n_arabic, n_cjk, n_cyrillic) THEN 'cyrillic'
        |       WHEN n_greek = greatest(n_arabic, n_cjk, n_greek) THEN 'greek'
        |       WHEN n_arabic = greatest(n_cjk, n_arabic) THEN 'arabic'
        |       ELSE 'cjk' END AS main_script
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_words,
        |  CAST(len(list_filter(string_split(text,' '),
        |       w -> w IN ('the','a','of','and'))) AS DOUBLE) / len(string_split(text,' ')) AS stop_ratio,
        |  CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / nullif(length(text), 0) AS punct_ratio,
        |  least(1.0, len(string_split(text,' ')) / 100.0) * 0.5
        |    + (CAST(len(list_filter(string_split(text,' '),
        |         w -> w IN ('the','a','of','and'))) AS DOUBLE) / len(string_split(text,' '))) * 0.3
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)) * 0.2
        |    AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    // exact integer counts + the same cleared one-division score forms
    "text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syll
        |  FROM documents),
        |f AS (
        |  SELECT *, greatest(n_words, 1) AS w1, greatest(n_sents, 1) AS s1 FROM c)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  CAST(206835 * s1 * w1 - 1015 * w1 * w1 - 84600 * n_syll * s1 AS DOUBLE)
        |    / (1000 * s1 * w1) AS flesch,
        |  CAST(39 * w1 * w1 + 1180 * n_syll * s1 - 1559 * s1 * w1 AS DOUBLE)
        |    / (100 * s1 * w1) AS fk_grade
        |FROM f ORDER BY doc_id""".stripMargin,
    // exact BIGINT rational quality (round 16): q·1e6 = num/den with
    // den = w·len, num = den·(5000·min(100,w)+200000) + 300000·stop·len
    // − 200000·sym·w; half-up rounding = (2·num+den) // (2·den) — the
    // Spark side computes the identical integers, so no IEEE value
    // exists on either compare path
    "select_budget" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
        |    CAST(len(list_filter(string_split(text,' '),
        |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS stop,
        |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS sym,
        |    CAST(nullif(length(text), 0) AS BIGINT) AS len
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, w AS n_tokens,
        |    CAST((2 * ((w*len) * (5000*least(100, w) + 200000)
        |          + 300000*stop*len - 200000*sym*w) + w*len)
        |      // (2 * w*len) AS BIGINT) AS quality_e6
        |  FROM c),
        |cum AS (
        |  SELECT doc_id, n_tokens, quality_e6,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality_e6 DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM scored)
        |SELECT doc_id, n_tokens, quality_e6, cum_tokens
        |FROM cum WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,
    // histogram-threshold replay of the approx twin: whole quality
    // levels admitted while the level-cumulative fits the budget —
    // all-integer, so the SQL reproduces the engine's driver-derived
    // threshold exactly
    "select_budget_approx" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
        |    CAST(len(list_filter(string_split(text,' '),
        |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS stop,
        |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS sym,
        |    CAST(nullif(length(text), 0) AS BIGINT) AS len
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, w AS n_tokens,
        |    CAST((2 * ((w*len) * (5000*least(100, w) + 200000)
        |          + 300000*stop*len - 200000*sym*w) + w*len)
        |      // (2 * w*len) AS BIGINT) AS quality_e6
        |  FROM c),
        |hist AS (
        |  SELECT quality_e6 AS q, CAST(sum(n_tokens) AS BIGINT) AS t
        |  FROM scored WHERE quality_e6 IS NOT NULL GROUP BY 1),
        |cum AS (
        |  SELECT q, CAST(sum(t) OVER (ORDER BY q DESC) AS BIGINT) AS cumt
        |  FROM hist)
        |SELECT doc_id, n_tokens, quality_e6
        |FROM scored JOIN cum ON quality_e6 = q
        |WHERE cumt <= 10000 ORDER BY doc_id""".stripMargin,
    "select_budget_density_approx" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
        |    CAST(len(list_filter(string_split(text,' '),
        |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS stop,
        |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS sym,
        |    CAST(nullif(length(text), 0) AS BIGINT) AS len
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, w AS n_tokens,
        |    CAST(CASE WHEN w*len < 2000000000
        |      THEN (2000 * ((w*len) * (5000*least(100, w) + 200000)
        |          + 300000*stop*len - 200000*sym*w) + (w*len)*w)
        |        // (2 * (w*len) * w)
        |      ELSE ((2 * ((w*len) * (5000*least(100, w) + 200000)
        |          + 300000*stop*len - 200000*sym*w) + (w*len))
        |        // (2 * (w*len)) * 2000 + w) // (2 * w)
        |    END AS BIGINT) AS density_e9
        |  FROM c),
        |hist AS (
        |  SELECT density_e9 AS q, CAST(sum(n_tokens) AS BIGINT) AS t
        |  FROM scored WHERE density_e9 IS NOT NULL GROUP BY 1),
        |cum AS (
        |  SELECT q, CAST(sum(t) OVER (ORDER BY q DESC) AS BIGINT) AS cumt
        |  FROM hist)
        |SELECT doc_id, n_tokens, density_e9
        |FROM scored JOIN cum ON density_e9 = q
        |WHERE cumt <= 10000 ORDER BY doc_id""".stripMargin,
    // density·1e9 = 1000·num/(den·w); half-up = (2000·num + den·w) //
    // (2·den·w) — same exact-integer discipline as select_budget
    "select_budget_density" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
        |    CAST(len(list_filter(string_split(text,' '),
        |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS stop,
        |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS sym,
        |    CAST(nullif(length(text), 0) AS BIGINT) AS len
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, w AS n_tokens,
        |    CAST(CASE WHEN w*len < 2000000000
        |      THEN (2000 * ((w*len) * (5000*least(100, w) + 200000)
        |          + 300000*stop*len - 200000*sym*w) + (w*len)*w)
        |        // (2 * (w*len) * w)
        |      ELSE ((2 * ((w*len) * (5000*least(100, w) + 200000)
        |          + 300000*stop*len - 200000*sym*w) + (w*len))
        |        // (2 * (w*len)) * 2000 + w) // (2 * w)
        |    END AS BIGINT) AS density_e9
        |  FROM c),
        |cum AS (
        |  SELECT doc_id, n_tokens, density_e9,
        |    CAST(sum(n_tokens) OVER (ORDER BY density_e9 DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM scored)
        |SELECT doc_id, n_tokens, density_e9, cum_tokens
        |FROM cum WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS h
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "text_chunk" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |starts AS (
        |  SELECT doc_id, words,
        |         unnest(range(0, len(words), 8)) AS start,
        |         generate_subscripts(range(0, len(words), 8), 1) - 1 AS chunk_idx
        |  FROM w)
        |SELECT doc_id, chunk_idx,
        |  len(words[start + 1 : start + 16]) AS n_chunk_words,
        |  array_to_string(words[start + 1 : start + 16], ' ') AS chunk_text
        |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (
        |  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |agg AS (
        |  SELECT doc_id, sum(c) AS n, count(*) AS types,
        |         sum(c * ln(c)) AS clc
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(types AS BIGINT) AS n_types,
        |  round(CAST(types AS DOUBLE) / n, 6) AS ttr,
        |  round(ln(n) - clc / n, 6) AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin,
    // the funnel composes three already-mirrored gates: the exact-dedup
    // min-id window, dedup_apply's recursive-CC canonical rule
    // (MATERIALIZED CTEs — the dedup_incremental DuckDB-inlining
    // lesson), and gopher_rules' keep conjunction; sums cast to BIGINT
    // (DuckDB sums BIGINT into HUGEINT)
    "corpus_funnel" ->
      """WITH RECURSIVE words AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |salted AS MATERIALIZED (
        |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
        |         string_agg(sig, ',' ORDER BY salt) AS band_sig
        |  FROM salted GROUP BY 1, 2),
        |bucket_ok AS MATERIALIZED (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 10000),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN bucket_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
        |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |common AS MATERIALIZED (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY c.doc1, c.doc2),
        |pairs AS MATERIALIZED (
        |  SELECT doc1, doc2
        |  FROM common JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |edges AS MATERIALIZED (
        |  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
        |walk(node, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b),
        |cc AS MATERIALIZED (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
        |gop AS MATERIALIZED (
        |  SELECT doc_id,
        |    (len(string_split(text,' ')) >= 50 AND len(string_split(text,' ')) <= 100000
        |     AND CAST(length(replace(text,' ','')) AS DOUBLE)
        |       / nullif(len(string_split(text,' ')), 0) >= 3.0
        |     AND CAST(length(replace(text,' ','')) AS DOUBLE)
        |       / nullif(len(string_split(text,' ')), 0) <= 10.0
        |     AND CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
        |       / nullif(len(string_split(text,' ')), 0) < 0.1
        |     AND CAST(len(list_filter(string_split(text,' '),
        |          w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |       / nullif(len(string_split(text,' ')), 0) >= 0.8
        |     AND len(list_filter(string_split(text,' '),
        |         w -> w IN ('the','be','to','of','and','that','have','with'))) >= 2) AS g_ok
        |  FROM documents),
        |f AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
        |    (d.doc_id = min(d.doc_id) OVER (PARTITION BY d.text)) AS is_exact,
        |    (d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id != cluster_id)) AS is_near,
        |    g.g_ok
        |  FROM documents d JOIN gop g ON g.doc_id = d.doc_id),
        |agg AS MATERIALIZED (
        |  SELECT count(*) AS d0, CAST(sum(n_tokens) AS BIGINT) AS t0,
        |    count(CASE WHEN is_exact THEN 1 END) AS d1,
        |    CAST(coalesce(sum(CASE WHEN is_exact THEN n_tokens END), 0) AS BIGINT) AS t1,
        |    count(CASE WHEN is_exact AND is_near THEN 1 END) AS d2,
        |    CAST(coalesce(sum(CASE WHEN is_exact AND is_near THEN n_tokens END), 0) AS BIGINT) AS t2,
        |    count(CASE WHEN is_exact AND is_near AND g_ok THEN 1 END) AS d3,
        |    CAST(coalesce(sum(CASE WHEN is_exact AND is_near AND g_ok THEN n_tokens END), 0) AS BIGINT) AS t3
        |  FROM f)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS gate, d0 AS n_docs, t0 AS n_tokens,
        |    CAST(d0 AS DOUBLE)/d0 AS docs_frac, CAST(t0 AS DOUBLE)/t0 AS tokens_frac FROM agg
        |  UNION ALL SELECT 1, 'exact_dedup', d1, t1,
        |    CAST(d1 AS DOUBLE)/d0, CAST(t1 AS DOUBLE)/t0 FROM agg
        |  UNION ALL SELECT 2, 'near_dedup', d2, t2,
        |    CAST(d2 AS DOUBLE)/d0, CAST(t2 AS DOUBLE)/t0 FROM agg
        |  UNION ALL SELECT 3, 'gopher', d3, t3,
        |    CAST(d3 AS DOUBLE)/d0, CAST(t3 AS DOUBLE)/t0 FROM agg)
        |ORDER BY stage""".stripMargin,
    // text_quality's composite (as the round-16 exact BIGINT rational)
    // and gopher_rules' keep conjunction recomputed side by side;
    // band = exact-integer micro-units // 10⁵ exactly as the engine
    // computes it
    "quality_calibration" ->
      """WITH cnt AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
        |    CAST(len(list_filter(string_split(text,' '),
        |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS stop,
        |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS sym,
        |    CAST(nullif(length(text), 0) AS BIGINT) AS len
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CAST((2 * ((w*len) * (5000*least(100, w) + 200000)
        |          + 300000*stop*len - 200000*sym*w) + w*len)
        |      // (2 * w*len) AS BIGINT) AS quality_e6,
        |    (len(string_split(text,' ')) >= 50 AND len(string_split(text,' ')) <= 100000
        |     AND CAST(length(replace(text,' ','')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) >= 3.0
        |     AND CAST(length(replace(text,' ','')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) <= 10.0
        |     AND CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) < 0.1
        |     AND CAST(len(list_filter(string_split(text,' '), w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |         / nullif(len(string_split(text,' ')), 0) >= 0.8
        |     AND len(list_filter(string_split(text,' '),
        |         w -> w IN ('the','be','to','of','and','that','have','with'))) >= 2) AS gopher_keep
        |  FROM cnt)
        |SELECT quality_e6 // 100000 AS q_band,
        |  gopher_keep, count(*) AS n_docs
        |FROM q GROUP BY 1, 2 ORDER BY q_band, gopher_keep""".stripMargin,
    "gopher_rules" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    len(string_split(text,' ')) AS n_words,
        |    CAST(length(replace(text,' ','')) AS DOUBLE)
        |      / nullif(len(string_split(text,' ')), 0) AS mwl,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
        |      / nullif(len(string_split(text,' ')), 0) AS sym,
        |    CAST(len(list_filter(string_split(text,' '),
        |         w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |      / nullif(len(string_split(text,' ')), 0) AS alpha,
        |    len(list_filter(string_split(text,' '),
        |        w -> w IN ('the','be','to','of','and','that','have','with'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  round(mwl, 6) AS mean_word_len,
        |  round(sym, 6) AS symbol_ratio,
        |  round(alpha, 6) AS alpha_frac,
        |  n_stop,
        |  (n_words >= 50 AND n_words <= 100000) AS wc_ok,
        |  (mwl >= 3.0 AND mwl <= 10.0) AS mwl_ok,
        |  (sym < 0.1) AS sym_ok,
        |  (alpha >= 0.8) AS alpha_ok,
        |  (n_stop >= 2) AS stop_ok,
        |  (n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |   AND sym < 0.1 AND alpha >= 0.8 AND n_stop >= 2) AS keep
        |FROM sig ORDER BY doc_id""".stripMargin,
    "corpus_report" ->
      """WITH d AS (
        |  SELECT source, text,
        |    len(string_split(text,' ')) AS n_words,
        |    CASE WHEN count(*) OVER (PARTITION BY text) > 1 THEN 1 ELSE 0 END AS dup,
        |    CASE WHEN (CASE
        |        WHEN len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les')))
        |           > len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) THEN 'fr'
        |        WHEN len(list_filter(string_split(text,' '), w -> w IN ('el','los','y','que')))
        |           > len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) THEN 'es'
        |        WHEN len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das')))
        |           > len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) THEN 'de'
        |        ELSE 'en' END) = 'en' THEN 1 ELSE 0 END AS is_en,
        |    least(1.0, len(string_split(text,' ')) / 100.0) * 0.5
        |      + (CAST(len(list_filter(string_split(text,' '),
        |           w -> w IN ('the','a','of','and'))) AS DOUBLE)
        |         / len(string_split(text,' '))) * 0.3
        |      + (1.0 - CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |         / nullif(length(text), 0)) * 0.2 AS quality
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_tokens,
        |  round(avg(n_words), 6) AS avg_tokens,
        |  CAST(sum(dup) AS BIGINT) AS n_exact_dup,
        |  round(avg(is_en), 6) AS en_share,
        |  round(avg(quality), 6) AS avg_quality
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "corpus_clean" ->
      """WITH q AS (
        |  SELECT doc_id, source, text,
        |    least(1.0, len(string_split(text,' ')) / 100.0) * 0.5
        |      + (CAST(len(list_filter(string_split(text,' '),
        |           w -> w IN ('the','a','of','and'))) AS DOUBLE)
        |         / len(string_split(text,' '))) * 0.3
        |      + (1.0 - CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |         / nullif(length(text), 0)) * 0.2 AS quality,
        |    len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) AS s_en,
        |    len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(string_split(text,' '), w -> w IN ('el','los','y','que'))) AS s_es,
        |    len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das'))) AS s_de
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, source, text FROM q
        |  WHERE quality >= 0.5
        |    AND (CASE WHEN s_fr > s_en THEN 'fr' WHEN s_es > s_en THEN 'es'
        |              WHEN s_de > s_en THEN 'de' ELSE 'en' END) = 'en'),
        |deduped AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep FROM kept)
        |  WHERE doc_id = keep),
        |sp AS (
        |  SELECT source, text,
        |    CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) < 58982
        |           THEN 'train'
        |         WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) < 62259
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM deduped)
        |SELECT source, split, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM sp GROUP BY 1, 2 ORDER BY source, split""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id, nfc_normalize(text) AS norm_text,
        |  length(nfc_normalize(text)) AS n_norm_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tfidf_topk" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf,
        |    round(t.tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / d.df), 6) AS tfidf
        |  FROM tf t JOIN df d ON d.term = t.term)
        |SELECT doc_id, rank, term, tfidf FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "bm25_topk" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id < 8),
        |contrib AS (
        |  SELECT q.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q JOIN tf t ON t.term = q.term AND t.doc_id <> q.q_id
        |  JOIN df d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |scored AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |           FROM contrib GROUP BY 1, 2),
        |ranked AS (SELECT q_id, c_id, score,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS BIGINT) AS rank FROM scored)
        |SELECT q_id, rank, c_id, score FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // the index-served path must answer the SAME question as the inline
    // one, so it shares bm25_topk's oracle verbatim — the differential
    // doubles as a lossless-index proof
    "bm25_disk" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id < 8),
        |contrib AS (
        |  SELECT q.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q JOIN tf t ON t.term = q.term AND t.doc_id <> q.q_id
        |  JOIN df d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |scored AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |           FROM contrib GROUP BY 1, 2),
        |ranked AS (SELECT q_id, c_id, score,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS BIGINT) AS rank FROM scored)
        |SELECT q_id, rank, c_id, score FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "retrieve_metrics" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id < 8),
        |contrib AS (
        |  SELECT q.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q JOIN tf t ON t.term = q.term AND t.doc_id <> q.q_id
        |  JOIN df d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |bscored AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |            FROM contrib GROUP BY 1, 2),
        |bm AS (SELECT q_id, c_id, rank FROM (
        |  SELECT q_id, c_id, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS BIGINT) AS rank FROM bscored)
        |  WHERE rank <= 10),
        |qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |       WHERE vec_id BETWEEN 0 AND 7),
        |cscored AS (
        |  SELECT qv.q_id, c.vec_id AS c_id,
        |    list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(qv.q_emb)+1),
        |      i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(qv.q_emb[i] AS DOUBLE))))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
        |  FROM qv JOIN embeddings c ON c.vec_id <> qv.q_id),
        |truth AS (SELECT q_id, c_id, 1 AS relv FROM (
        |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, c_id) AS rank FROM cscored) WHERE rank <= 10),
        |idcg AS (SELECT sum(1.0 / log2(CAST(i AS DOUBLE) + 1)) AS v
        |         FROM (SELECT unnest(range(1, 11)) AS i)),
        |joined AS (
        |  SELECT b.q_id, b.rank, t.relv
        |  FROM bm b LEFT JOIN truth t ON t.q_id = b.q_id AND t.c_id = b.c_id)
        |SELECT q_id,
        |  round(CAST(sum(COALESCE(relv, 0)) AS DOUBLE) / 10, 6) AS recall10,
        |  round(COALESCE(1.0 / min(CASE WHEN relv = 1 THEN rank END), 0.0), 6) AS mrr,
        |  round(sum(CASE WHEN relv = 1 THEN 1.0 / log2(CAST(rank AS DOUBLE) + 1)
        |            ELSE 0.0 END) / (SELECT v FROM idcg), 6) AS ndcg10
        |FROM joined GROUP BY q_id ORDER BY q_id""".stripMargin,
    "bm25_prf" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id < 8),
        |contrib1 AS (
        |  SELECT q.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q JOIN tf t ON t.term = q.term AND t.doc_id <> q.q_id
        |  JOIN df d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |scored1 AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |            FROM contrib1 GROUP BY 1, 2),
        |fb AS (SELECT q_id, c_id FROM (
        |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS rank FROM scored1) WHERE rank <= 10),
        |expw AS (
        |  SELECT f.q_id, t.term, sum(t.tf) AS tw
        |  FROM fb f JOIN tf t ON t.doc_id = f.c_id GROUP BY 1, 2),
        |exp AS (SELECT q_id, term FROM (
        |  SELECT e.q_id, e.term,
        |    row_number() OVER (PARTITION BY e.q_id ORDER BY e.tw DESC, e.term) AS r
        |  FROM expw e
        |  WHERE NOT EXISTS (SELECT 1 FROM q
        |    WHERE q.q_id = e.q_id AND q.term = e.term)) WHERE r <= 5),
        |q2 AS (SELECT q_id, term FROM q UNION ALL SELECT q_id, term FROM exp),
        |contrib2 AS (
        |  SELECT q2.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q2 JOIN tf t ON t.term = q2.term AND t.doc_id <> q2.q_id
        |  JOIN df d ON d.term = q2.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |scored2 AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |            FROM contrib2 GROUP BY 1, 2),
        |ranked2 AS (SELECT q_id, c_id, score,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS BIGINT) AS rank FROM scored2)
        |SELECT q_id, rank, c_id, score FROM ranked2
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // even-build + odd-append must reconstruct the FULL corpus
    // statistics exactly, so the append id shares the same oracle too;
    // likewise the stream-built index (three micro-batches + a
    // redelivered batch) — equality doubles as an exactly-once proof
    "bm25_stream" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id < 8),
        |contrib AS (
        |  SELECT q.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q JOIN tf t ON t.term = q.term AND t.doc_id <> q.q_id
        |  JOIN df d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |scored AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |           FROM contrib GROUP BY 1, 2),
        |ranked AS (SELECT q_id, c_id, score,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS BIGINT) AS rank FROM scored)
        |SELECT q_id, rank, c_id, score FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "bm25_append" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id < 8),
        |contrib AS (
        |  SELECT q.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q JOIN tf t ON t.term = q.term AND t.doc_id <> q.q_id
        |  JOIN df d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |scored AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |           FROM contrib GROUP BY 1, 2),
        |ranked AS (SELECT q_id, c_id, score,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS BIGINT) AS rank FROM scored)
        |SELECT q_id, rank, c_id, score FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "retrieve_hybrid" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id < 8),
        |contrib AS (
        |  SELECT q.q_id, t.doc_id AS c_id,
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
        |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS w
        |  FROM q JOIN tf t ON t.term = q.term AND t.doc_id <> q.q_id
        |  JOIN df d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  CROSS JOIN stats s),
        |bscored AS (SELECT q_id, c_id, round(sum(w), 6) AS score
        |            FROM contrib GROUP BY 1, 2),
        |branked AS (SELECT q_id, c_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, c_id) AS BIGINT) AS rank FROM bscored),
        |bm AS (SELECT q_id, c_id, rank AS r_bm FROM branked WHERE rank <= 10),
        |qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |       WHERE vec_id BETWEEN 0 AND 7),
        |cscored AS (
        |  SELECT qv.q_id, c.vec_id AS c_id,
        |    list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(qv.q_emb)+1),
        |      i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(qv.q_emb[i] AS DOUBLE))))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
        |  FROM qv JOIN embeddings c ON c.vec_id <> qv.q_id),
        |cranked AS (SELECT q_id, c_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, c_id) AS BIGINT) AS rank FROM cscored),
        |cs AS (SELECT q_id, c_id, rank AS r_cos FROM cranked WHERE rank <= 10),
        |fused AS (
        |  SELECT COALESCE(b.q_id, c.q_id) AS q_id,
        |         COALESCE(b.c_id, c.c_id) AS c_id,
        |         COALESCE(1.0 / (60 + b.r_bm), 0) +
        |           COALESCE(1.0 / (60 + c.r_cos), 0) AS rrf,
        |         b.r_bm, c.r_cos
        |  FROM bm b FULL JOIN cs c ON b.q_id = c.q_id AND b.c_id = c.c_id),
        |franked AS (SELECT q_id, c_id, rrf, r_bm, r_cos,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY rrf DESC, c_id) AS BIGINT) AS rank FROM fused)
        |SELECT q_id, rank, c_id, rrf, r_bm, r_cos FROM franked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "vocab_coverage" ->
      """WITH counts AS (
        |  SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text,' ')) AS term FROM documents)
        |  GROUP BY term),
        |ranked AS (
        |  SELECT term, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS total
        |  FROM counts)
        |SELECT rank, term, cnt, round(CAST(cum AS DOUBLE) / total, 6) AS cum_frac
        |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin
  )
}

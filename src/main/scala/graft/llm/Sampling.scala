package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Deterministic corpus sampling / splitting / n-gram statistics — the
  * training-data-pipeline operations a 100 TB run does constantly
  * (SURVEY.md §2.12 family).
  *
  * Sampling here is HASH-based, never `rand()`: the md5 bucket of a
  * stable id is reproducible across runs, engines, partitionings and
  * retries (a nondeterministic sample re-executed after a task failure
  * silently changes the dataset — same hazard class as SPARK-23207), and
  * it is mirrorable 1:1 in the DuckDB oracle. Engine-portable md5 over
  * engine-specific xxhash64 is a deliberate trade: sampling runs once
  * per corpus build, auditability wins.
  *
  * Scale notes: every operator is one narrow projection + (for stats)
  * one map-side-combinable aggregation; the split assignment never
  * shuffles at all.
  */
object Sampling {

  /** md5-derived hash of a stable column: the first `hexDigits` hex
    * digits of md5 as a long — the engine's ONE portable-hash idiom
    * (mirrored in DuckDB as `CAST('0x' || substring(md5(x),1,N) AS
    * BIGINT)`). `hexDigits` must stay ≤ 15: 15 digits = 60 bits keeps
    * both engines inside the signed-64-bit positive range (16 could set
    * the sign bit and the engines disagree on the wrap). Default 4 =
    * the 16-bit sampling bucket (0..65535).
    */
  def hashBucket(id: org.apache.spark.sql.Column, hexDigits: Int = 4): org.apache.spark.sql.Column = {
    require(hexDigits >= 1 && hexDigits <= 15, s"hexDigits out of portable range: $hexDigits")
    conv(substring(md5(id.cast("string")), 1, hexDigits), 16, 10).cast("long")
  }

  /** Keep ~`permille`/65536 of rows, deterministically. */
  def sampleByHash(df: DataFrame, idCol: String, threshold: Int): DataFrame =
    df.withColumn("hb", hashBucket(col(idCol))).filter(col("hb") < threshold)

  /** Reproducible train/val/test assignment by hash range (90/5/5 at the
    * defaults) — the standard leakage-safe corpus split.
    */
  def splitAssign(df: DataFrame, idCol: String,
      trainTo: Int = 58982, valTo: Int = 62259): DataFrame =
    df.withColumn("split",
      when(hashBucket(col(idCol)) < trainTo, "train")
        .when(hashBucket(col(idCol)) < valTo, "val")
        .otherwise("test"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ~10% deterministic sample: same rows every run, any partitioning
    "sample_hash" -> ((s, dir) =>
      sampleByHash(Tables(s, dir).documents, "doc_id", threshold = 6554)
        .select("doc_id", "source", "hb")
        .orderBy("doc_id")),

    // Per-domain document quota (RefinedWeb-style domain capping): keep
    // at most K docs per source, chosen by the portable md5 hash order
    // of doc_id (a deterministic per-domain uniform sample — never
    // rand()), so one hot domain cannot dominate the training mix. The
    // physical shape is SKEW-SAFE two-level top-K: a first rank within
    // (source, salt=hb%16) cuts every salt shard to K rows BEFORE the
    // per-source rank, so a 100 TB hot domain fans across 16 reducers
    // and the final per-source window sorts ≤ 16·K rows — never the
    // domain's full row set through one task. Equivalence to the
    // direct one-window form is structural (any global top-K member
    // has ≤ K−1 predecessors overall, hence ≤ K−1 within its own
    // salt) and is what the one-window oracle checks.
    "domain_cap" -> ((s, dir) => {
      val K = 10
      val ranked = Tables(s, dir).documents.select(
        col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("hk"),
        (hashBucket(col("doc_id")) % 16).as("salt"))
      val local = ranked
        .withColumn("lrk", row_number().over(
          Window.partitionBy(col("source"), col("salt"))
            .orderBy(col("hk"), col("doc_id"))))
        .filter(col("lrk") <= K)
      local
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("hk"), col("doc_id"))).cast("long"))
        .filter(col("rk") <= K)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy("source", "rk")
    }),

    // Per-domain TOKEN budget (domain_cap's sibling — quotas that
    // matter for training mixes are measured in tokens, not documents):
    // keep each source's maximal md5-hash-order prefix whose cumulative
    // token count fits the budget. Same skew-safe two-level shape, and
    // it stays EXACT because stage 1 keeps every doc whose salt-local
    // PRECEDING sum is within budget — i.e. each salt's fitting prefix
    // PLUS its first budget-crossing doc. Exactness both ways: (a) a
    // true-kept doc K (global cum ≤ budget) has local preceding sum
    // ≤ global preceding sum ≤ budget, so K always survives stage 1,
    // and every stage-1-dropped doc has global preceding sum > budget
    // and hence follows K in the source order — stage 2's cumulative at
    // K is the TRUE global cumulative; (b) for a truly-over-budget doc
    // D that survives stage 1, any earlier stage-1 drop implies that
    // salt's surviving prefix before its first drop already sums
    // > budget and wholly precedes D, so stage 2's cumulative at D
    // exceeds the budget and the cum ≤ budget filter removes D.
    // (Keeping only lcum ≤ budget — the pre-round-16 form — was NOT
    // exact: a salt-local drop removed the crossing doc's tokens from
    // stage 2's sum, understating later survivors' cumulative.) Each
    // salt shard carries at most budget+1 candidate docs (tokens ≥ 1),
    // so the final per-source window is budget-bounded — a 100 TB hot
    // domain never sorts its full row set in one task.
    "domain_cap_tokens" -> ((s, dir) => {
      val budget = 500L
      val toks = Tables(s, dir).documents.select(
        col("source"), col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("hk"),
        (hashBucket(col("doc_id")) % 16).as("salt"))
      val local = toks
        .withColumn("lcum", sum(col("n_tokens")).over(
          Window.partitionBy(col("source"), col("salt"))
            .orderBy(col("hk"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("lcum") - col("n_tokens") <= budget)
      local
        .withColumn("cum", sum(col("n_tokens")).over(
          Window.partitionBy(col("source"))
            .orderBy(col("hk"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") <= budget)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum"))
        .orderBy("source", "cum")
    }),

    // split sizes per source — the audit query run after every split
    "split_train_test" -> ((s, dir) =>
      splitAssign(Tables(s, dir).documents, "doc_id")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "split")),

    // leakage-safe split: hash the near-dup CLUSTER's canonical id, not
    // the doc id — a plain per-doc hash puts near-identical docs on
    // both sides of the train/test boundary, and test metrics then
    // measure memorization of training near-dups rather than
    // generalization (the standard eval-leakage failure dedup exists
    // to prevent; same rationale as decontaminate, applied to the
    // split itself). Assignment unit = coalesce(cluster canonical,
    // doc_id); the label table is the memoized near-dup cluster run
    // (one row per CLUSTERED doc — tiny), left-joined once against the
    // corpus ids, so the whole id costs one broadcastable join + the
    // split_train_test hash projection.
    "split_leakage_safe" -> ((s, dir) => {
      val keyed = Tables(s, dir).documents.select(col("doc_id"))
        .join(NearDedup.clusterLabels(s, dir), Seq("doc_id"), "left")
        .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      splitAssign(keyed, "split_key")
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    }),

    // corpus-wide top trigram shingles by document frequency: narrow
    // shingle projection → explode → ONE counting aggregate (map-side
    // partials) → top-k. The boilerplate-detection companion to the
    // df-cap in dedup_jaccard.
    "ngram_topk" -> ((s, dir) =>
      NearDedup.shingleArrays(Tables(s, dir).documents)
        .select(explode(col("sh")).as("shingle"))
        .groupBy("shingle")
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("shingle"))
        .limit(20)),

    // Sequence-length histogram (fixed 16-token bins, per source) — the
    // packing-efficiency / truncation-loss audit run before choosing a
    // training context length. Integer bin arithmetic (n − n mod 16, no
    // float floor) so both engines bin identically; one narrow
    // projection + ONE map-side-combinable count, output is bins×
    // sources rows (bounded), never the corpus.
    "seq_len_hist" -> ((s, dir) => {
      val n = size(split(col("text"), " "))
      Tables(s, dir).documents
        .select(col("source"), (n - n % 16).cast("long").as("bin_lo"))
        .groupBy("source", "bin_lo")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "bin_lo")
    }),

    // Data-mix rate solver (the Pile/Dolma source-weighting step):
    // given target mix weights per source and the tokens actually
    // available, the max achievable corpus size with NO upsampling is
    // T* = min_s(tokens_s / p_s); each source then samples at rate
    // p_s·T*/tokens_s (=1 for the binding source). Weights here derive
    // deterministically from the source id (1 + suffix mod 4, then
    // normalized) so the fixture exercises unequal targets. Shape: one
    // corpus aggregation; everything after runs on the SOURCE table
    // (|sources| rows) with two broadcast scalars — at 100 TB the mix
    // solve is free once per-source token mass exists.
    // Epochs-per-source table (round 16 — the other half of the data
    // recipe next to `mix_rates`): when the requested token mass for a
    // source EXCEEDS what the source holds, a training run repeats the
    // source (the Llama/Pile "small high-quality source runs 4 epochs"
    // decision). requested_s = budget·w_s div Σw with the same
    // deterministic integer source weights as mix_rates; epochs ship as
    // exact micro-units (2·req·10⁶ + avail) div (2·avail) and
    // n_repeats = ⌈req/avail⌉ — every value on the compare path is
    // BIGINT (the round-16 discipline; unlike mix_rates this id never
    // normalizes to a float weight, so the whole table is
    // integer-exact). Shape: one corpus aggregation, then |sources|
    // rows + one broadcast scalar — free at any corpus size.
    "mix_epochs" -> ((s, dir) => {
      val budget = 50000L // ~2x sf0.001 corpus mass: both recipe regimes live
      val tok = Tables(s, dir).documents
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("long").as("avail"))
        // try_cast mirrored by TRY_CAST in the oracle (round-17 ADVICE):
        // a source name without a numeric suffix yields NULL in BOTH
        // engines instead of a Spark-NULL-vs-DuckDB-error divergence on
        // a fixture-schema change
        .withColumn("w",
          expr("cast(1 + try_cast(substring(source, 4) as int) % 4 as long)"))
      val wsum = tok.agg(sum(col("w")).as("wsum"))
      tok.crossJoin(broadcast(wsum))
        .withColumn("requested", expr(s"($budget * w) DIV wsum"))
        .withColumn("epochs_e6",
          expr("(2 * requested * 1000000 + avail) DIV (2 * avail)"))
        .withColumn("n_repeats", expr("(requested + avail - 1) DIV avail"))
        .select("source", "avail", "w", "requested", "epochs_e6", "n_repeats")
        .orderBy("source")
    }),

    "mix_rates" -> ((s, dir) => {
      val tok = Tables(s, dir).documents
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("double").as("t"))
        .withColumn("w",
          // substr to end-of-string (not a fixed length cap): the DuckDB
          // oracle's substring(source, 4) takes the whole suffix, and a
          // Spark-side length cap would silently diverge on a fixture
          // regeneration with longer source ids; try_cast ≡ TRY_CAST in
          // the oracle (round-17 ADVICE, the mix_epochs rationale)
          expr("cast(1 + try_cast(substring(source, 4) as int) % 4 as double)"))
      val wsum = tok.agg(sum(col("w")).as("wsum"))
      val p = tok.crossJoin(broadcast(wsum))
        .withColumn("p", col("w") / col("wsum"))
      val tstar = p.agg(min(col("t") / col("p")).as("tstar"))
      p.crossJoin(broadcast(tstar))
        .select(
          col("source"),
          col("t").cast("long").as("n_tokens"),
          round(col("p"), 6).as("weight"),
          // nullif on the availability: a zero-token source would hit
          // 0/0, where Spark (non-ANSI) yields NULL but DuckDB yields
          // NaN — the same latent-mismatch class the punct_ratio guard
          // closes; with the guard both engines agree on NULL
          round(col("p") * col("tstar") / nullif(col("t"), lit(0.0)), 6).as("rate"),
          round(col("p") * col("tstar"), 2).as("sampled_tokens"))
        .orderBy("source")
    }),

    // temperature-scaled mixing (round 13) — the multilingual sampling
    // rule of T5/mT5 and the Llama-family data recipes: target share
    // p_s ∝ (tokens_s)^α with α < 1 flattening the natural distribution
    // toward uniform (α = 0.3 here, the mT5 setting), then the same
    // no-upsampling solve as `mix_rates` (T* = min_s tokens_s / p_s).
    // Contrast: mix_rates takes EXTERNALLY-given weights; this derives
    // them from the data's own mass. Same 100 TB shape — one corpus
    // aggregation, then |sources|-row arithmetic with two broadcast
    // scalars. pow() may differ in the last ulp across libms, so every
    // emitted float is rounded to 6 places (the cross-engine float
    // discipline BASELINE.md documents for order-divergent sums).
    "mix_temperature" -> ((s, dir) => {
      val tok = Tables(s, dir).documents
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("double").as("t"))
        .withColumn("w", pow(col("t"), lit(0.3)))
      val wsum = tok.agg(sum(col("w")).as("wsum"))
      val p = tok.crossJoin(broadcast(wsum))
        .withColumn("p", col("w") / col("wsum"))
      val tstar = p.agg(min(col("t") / col("p")).as("tstar"))
      p.crossJoin(broadcast(tstar))
        .select(
          col("source"),
          col("t").cast("long").as("n_tokens"),
          round(col("p"), 6).as("weight"),
          round(col("p") * col("tstar") / nullif(col("t"), lit(0.0)), 6).as("rate"),
          round(col("p") * col("tstar"), 2).as("sampled_tokens"))
        .orderBy("source")
    }),

    // per-source corpus statistics (doc count, token mass, mean length)
    "corpus_stats" -> ((s, dir) =>
      Tables(s, dir).documents
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("total_tokens"))
        .withColumn("avg_tokens",
          col("total_tokens").cast("double") / col("n_docs"))
        .orderBy("source")),

    // DSIR importance scoring (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw doc
    // by how much more likely its hashed n-gram bag is under a TARGET
    // distribution than under the raw-corpus distribution —
    // log w(x) = Σ_b c_x[b]·(ln p̂_target[b] − ln p̂_raw[b]) over B
    // hashed feature buckets (unigrams + bigrams, the paper's feature
    // space), add-1 smoothed. Target here = the `lang = 'en'` subset
    // (the fixture's stand-in for the paper's Wikipedia/books target;
    // in production the target bag comes from a curated sample).
    // Shape: ONE gram explode → one (doc_id, b)-keyed counting agg
    // (map-side combinable, persisted — it feeds both the B-row λ
    // table and the per-doc score); λ = B rows broadcast back; score =
    // per-doc sum join. No corpus-wide key beyond the B-bucket count.
    "dsir_score" -> ((s, dir) =>
      dsirScore(Tables(s, dir).documents).orderBy("doc_id")),

    // the resampling step: keep the top importance-weight quartile.
    // Deterministic engine twin of the paper's Gumbel-top-k draw: rank
    // on the ROUNDED score (ties to doc_id — the tfidf_topk tiebreak
    // discipline) and keep the top ceil(n/4) rows — written as the
    // explicit row_number ≤ ⌈n/4⌉ cut rather than ntile-quartile 1
    // (identical membership for bucket 1 at every n, but no engine's
    // ntile remainder placement on the compare path — the rfm_segments
    // round-16 adjudication; at sf0.01's 500 docs ntile happened to
    // divide evenly, which is luck, not safety). The exact formulation
    // is one global single-task sort — correct for the oracle and fine
    // to tens of millions of docs; the 100 TB formulation ships as
    // `dsir_select_approx` below.
    "dsir_select" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val nAll = org.apache.spark.sql.expressions.Window.partitionBy()
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      dsirScore(Tables(s, dir).documents)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n_all", count(lit(1)).over(nAll))
        .filter(expr("(rn - 1) * 4 DIV n_all = 0"))
        .select("doc_id", "n_feats", "score")
        .orderBy("doc_id")
    }),

    // the 100 TB twin of `dsir_select` (the perplexity_buckets_approx
    // precedent): the selection threshold is a t-digest 75th percentile
    // of the score — ONE map-side-combinable sketch agg, one broadcast
    // scalar, one comparison per doc. No global sort anywhere; this is
    // the formulation that holds at a billion docs. Oracle-checked
    // since round 16 via the threshold-embedding replay: the scalar is
    // memoized engine-side and rides into the oracle as a literal (the
    // sketch returns an actual score element, so ≥ replays bit-exactly).
    "dsir_select_approx" -> ((s, dir) => {
      dsirScore(Tables(s, dir).documents)
        .filter(col("score") >= lit(dsirThreshold(s, dir)))
        .select("doc_id", "n_feats", "score")
        .orderBy("doc_id")
    }),

    // Deterministic training-order shuffle + shard assignment — the
    // "global shuffle" every training run needs, WITHOUT a global
    // sort: shard = md5 bucket of doc_id (mod S), order within shard =
    // the md5 hex string itself (ASCII hex sorts identically in both
    // engines; doc_id tiebreak for discipline), global position =
    // shard offset + within-shard rank. The only cross-shard
    // coordination is the S-row shard-size table (one counting agg →
    // an S-row prefix sum → broadcast). At 100 TB: S scales to the
    // cluster (one sort task per shard over n/S rows — S independent
    // sorts, not one), and the output is already laid out in write
    // order for S training shards. Hash-order, never rand(): the
    // permutation is reproducible across runs, partitionings and task
    // retries (the sample_hash rationale).
    "corpus_shuffle" -> ((s, dir) => {
      val S = 8
      val keyed = Tables(s, dir).documents.select(
        col("doc_id"),
        md5(col("doc_id").cast("string")).as("mk"),
        (hashBucket(col("doc_id")) % S).as("shard"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("mk", "doc_id")
      // unpartitioned on purpose: the prefix sum runs over the S-row
      // shard-size table (HintAudit.BoundedWindows)
      val wo = org.apache.spark.sql.expressions.Window
        .orderBy("shard")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offs = keyed.groupBy("shard").agg(count(lit(1)).as("n"))
        .withColumn("off", coalesce(sum(col("n")).over(wo), lit(0L)))
      keyed
        .withColumn("pos_in_shard", row_number().over(w).cast("long"))
        .join(broadcast(offs.select("shard", "off")), "shard")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          (col("off") + col("pos_in_shard")).as("global_pos"))
        .orderBy("doc_id")
    })
  )

  /** Number of hashed DSIR feature buckets. 1024 divides the 16-bit
    * [[hashBucket]] range exactly (uniform after the mod) and keeps the
    * add-1 smoothing mass (B) well under the fixture's gram mass, so
    * observed counts dominate the prior.
    */
  private[llm] val DsirBuckets = 1024

  /** Hashed unigram+bigram feature stream: one row per gram occurrence,
    * bucketed by the engine's portable md5 idiom. Empty unigrams (split
    * artifacts of repeated spaces) are dropped, matching the perplexity
    * LM's token filter; bigrams are taken verbatim as both engines
    * construct them identically.
    */
  private def hashedGrams(docs: DataFrame): DataFrame = {
    // r18-opt (guide §1.2): ONE scan + ONE explode — the old union of a
    // unigram branch and a bigram branch scanned and re-sprayed the
    // corpus twice per evaluation (plans/r18/dsir_score_before.txt:
    // every gram-stream evaluation = 2 parquet scans). The concatenated
    // gram array yields the identical row multiset (empty unigrams
    // dropped via the filter HOF; bigrams verbatim, absent for
    // single-word docs exactly as the old size>=2 pre-filter did).
    val base = graft.Engine.spread(docs, "doc_id")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
    base
      .select(col("doc_id"), col("lang"),
        explode(concat(
          filter(col("ws"), w => length(w) > 0),
          when(size(col("ws")) >= 2,
            slice(
              zip_with(col("ws"), slice(col("ws"), lit(2), size(col("ws"))),
                (a, b) => concat(a, lit(" "), b)),
              lit(1), size(col("ws")) - 1))
            .otherwise(array().cast("array<string>")))).as("g"))
      .select(col("doc_id"), col("lang"),
        (hashBucket(col("g")) % DsirBuckets).as("b"))
  }

  /** DSIR importance log-weight per doc — see the `dsir_score` entry.
    * The gram stream feeds BOTH the λ derivation and the score side, so
    * it evaluates twice per action — deliberately left UNcached: a
    * checkpoint here would hide the whole pipeline behind an RDD scan
    * (no pushdown/pruning audit, no AQE), and the recompute is one
    * narrow map+agg (the perplexity LM makes the same trade with its
    * train-split tables). A long-lived 100 TB pipeline persists the
    * gram-count table MEMORY_AND_DISK instead. Docs with no grams
    * (empty text) carry no features and are absent, as in
    * `text_perplexity`.
    */
  def dsirScore(docs: DataFrame): DataFrame = {
    val b = DsirBuckets.toDouble
    val docb = hashedGrams(docs)
      .groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("cxb"))
    // r18-opt (guide §1.2/§2.4): the λ side aggregates the gram STREAM
    // straight to B rows (identical integers: Σ_doc cxb per bucket ≡
    // count of gram rows per bucket) instead of re-deriving the
    // (doc_id, b) table first, and the global totals (r, t) come from
    // a window over the ≤B-row counts table instead of a THIRD full
    // corpus evaluation (the old `tot` branch). Plan: 6 parquet scans
    // → 2 (plans/r18/dsir_score_{before,after}.txt); λ values are
    // bit-identical (integer inputs, same log expression) and the
    // per-doc Σ cxb·lam float path below is untouched.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val counts = hashedGrams(docs).groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", lit(1L)).otherwise(lit(0L))).as("ct"))
    // λ is ≤ B rows BY CONSTRUCTION — the explicit broadcast is bounded
    // (unlike decon_overlap's eval side, which must stay AQE-free), and
    // the single-task totals window runs over the same ≤ B rows
    // (HintAudit.BoundedWindows lists dsir_score and dsir_select_approx)
    val lam = counts
      .withColumn("r", sum(col("cr")).over(wAll))
      .withColumn("t", sum(col("ct")).over(wAll))
      .select(col("b"),
        (log((col("ct") + lit(1.0)) / (col("t") + lit(b))) -
          log((col("cr") + lit(1.0)) / (col("r") + lit(b)))).as("lam"))
    // ln may differ in the last ulp across libms; the per-doc sum is
    // a few hundred doubles, so associativity + ulp noise sits ~7
    // orders below the 6 dp rounding (the perplexityCte adjudication)
    docb.join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(sum(col("cxb")).cast("long").as("n_feats"),
        round(sum(col("cxb") * col("lam")), 6).as("score"))
  }

  /** Memoized per-(session, dir) 75th-percentile score threshold — the
    * one-scalar model artifact `dsir_select_approx` trains, collected
    * once so the served query and the threshold-embedding oracle use
    * the IDENTICAL value (a sketch re-run's merge order is not
    * contractually deterministic).
    */
  private val dsirThCache = Memo.slot[String, Double]("Sampling.dsirThCache")

  private[llm] def dsirThreshold(s: SparkSession, dir: String): Double = {
    dsirThCache(s, dir)(
      dsirScore(Tables(s, dir).documents)
        .agg(percentile_approx(col("score"), lit(0.75), lit(10000)))
        .collect()(0).getDouble(0))
  }

  /** Threshold-embedding oracle for `dsir_select_approx` (round 16 —
    * the perplexity_buckets_approx graduation applied to the scalar
    * cut): DuckDB re-derives scores through the shared DSIR CTE and
    * filters at the engine's memoized literal.
    */
  private def dsirApproxOracle: Map[String, String] = {
    // dir-keyed lookup (round-17 ADVICE) — see QualityModel.qmsOracle
    dsirThCache.live.filter { case (d, _) => graft.Engine.lastFixtureDir.contains(d) } match {
      case (_, th) :: Nil => Map("dsir_select_approx" ->
        s"""WITH $dsirCte
           |SELECT doc_id, n_feats, score FROM sc
           |WHERE score >= CAST($th AS DOUBLE)
           |ORDER BY doc_id""".stripMargin)
      case _ => Map.empty
    }
  }

  def oracleSql: Map[String, String] = dsirApproxOracle ++ Map(
    // direct one-window reference — the engine's two-level skew-safe
    // rank must equal the naive per-source top-K
    "domain_cap" ->
      """WITH r AS (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
        |rk AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rk
        |  FROM r)
        |SELECT source, doc_id, rk FROM rk WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    // direct one-window reference for the two-level token budget
    "domain_cap_tokens" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(text,' '), w -> len(w) > 0)) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum
        |FROM c WHERE cum <= 500 ORDER BY source, cum""".stripMargin,
    "sample_hash" ->
      """SELECT doc_id, source,
        |  CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) AS BIGINT) AS hb
        |FROM documents
        |WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) < 6554
        |ORDER BY doc_id""".stripMargin,
    "split_train_test" ->
      """WITH h AS (
        |  SELECT source,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) AS hb
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN hb < 58982 THEN 'train' WHEN hb < 62259 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY source, split""".stripMargin,
    "split_leakage_safe" ->
      """WITH RECURSIVE words AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |salted AS (
        |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
        |bands AS (
        |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
        |         string_agg(sig, ',' ORDER BY salt) AS band_sig
        |  FROM salted GROUP BY 1, 2),
        |bucket_ok AS (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 10000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN bucket_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
        |sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |common AS (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY c.doc1, c.doc2),
        |pairs AS (
        |  SELECT doc1, doc2
        |  FROM common JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |edges AS (
        |  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
        |walk(node, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b),
        |cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
        |keyed AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS split_key
        |  FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id),
        |h AS (SELECT doc_id, split_key,
        |  CAST('0x' || substring(md5(CAST(split_key AS VARCHAR)),1,4) AS INTEGER) AS hb
        |  FROM keyed)
        |SELECT doc_id, split_key,
        |  CASE WHEN hb < 58982 THEN 'train' WHEN hb < 62259 THEN 'val' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,
    "ngram_topk" ->
      """WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3)
        |SELECT w AS shingle, count(*) AS df FROM words
        |GROUP BY w ORDER BY df DESC, shingle LIMIT 20""".stripMargin,
    "seq_len_hist" ->
      """WITH n AS (
        |  SELECT source, len(string_split(text,' ')) AS n FROM documents)
        |SELECT source, CAST(n - n % 16 AS BIGINT) AS bin_lo, count(*) AS n_docs
        |FROM n GROUP BY 1, 2 ORDER BY source, bin_lo""".stripMargin,
    // all-BIGINT epochs table: requested = budget·w div Σw, epochs_e6
    // and ⌈req/avail⌉ in exact integer arithmetic — no float anywhere
    "mix_epochs" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS avail,
        |    CAST(1 + TRY_CAST(substring(source, 4) AS INTEGER) % 4 AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM tok),
        |r AS (
        |  SELECT source, avail, w,
        |    CAST((50000 * w) // wsum AS BIGINT) AS requested
        |  FROM tok CROSS JOIN ws)
        |SELECT source, avail, w, requested,
        |  CAST((2 * requested * 1000000 + avail) // (2 * avail) AS BIGINT) AS epochs_e6,
        |  CAST((requested + avail - 1) // avail AS BIGINT) AS n_repeats
        |FROM r ORDER BY source""".stripMargin,
    "mix_rates" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text,' '))) AS DOUBLE) AS t,
        |    CAST(1 + TRY_CAST(substring(source, 4) AS INTEGER) % 4 AS DOUBLE) AS w
        |  FROM documents GROUP BY source),
        |p AS (SELECT source, t, w / (SELECT sum(w) FROM tok) AS p FROM tok),
        |ts AS (SELECT min(t / p) AS tstar FROM p)
        |SELECT source, CAST(t AS BIGINT) AS n_tokens,
        |  round(p, 6) AS weight,
        |  round(p * (SELECT tstar FROM ts) / nullif(t, 0), 6) AS rate,
        |  round(p * (SELECT tstar FROM ts), 2) AS sampled_tokens
        |FROM p ORDER BY source""".stripMargin,
    "mix_temperature" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text,' '))) AS DOUBLE) AS t
        |  FROM documents GROUP BY source),
        |tw AS (SELECT source, t, pow(t, 0.3) AS w FROM tok),
        |p AS (SELECT source, t, w / (SELECT sum(w) FROM tw) AS p FROM tw),
        |ts AS (SELECT min(t / p) AS tstar FROM p)
        |SELECT source, CAST(t AS BIGINT) AS n_tokens,
        |  round(p, 6) AS weight,
        |  round(p * (SELECT tstar FROM ts) / nullif(t, 0), 6) AS rate,
        |  round(p * (SELECT tstar FROM ts), 2) AS sampled_tokens
        |FROM p ORDER BY source""".stripMargin,
    "corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "dsir_score" ->
      s"""WITH $dsirCte
        |SELECT doc_id, n_feats, score FROM sc ORDER BY doc_id""".stripMargin,
    "dsir_select" ->
      s"""WITH $dsirCte,
        |sel AS (
        |  SELECT doc_id, n_feats, score,
        |    (row_number() OVER (ORDER BY score DESC, doc_id) - 1) * 4 AS rn4,
        |    count(*) OVER () AS n_all
        |  FROM sc)
        |SELECT doc_id, n_feats, score FROM sel
        |WHERE rn4 // n_all = 0 ORDER BY doc_id""".stripMargin,
    "corpus_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS mk,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER) % 8 AS BIGINT) AS shard
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, shard,
        |    CAST(row_number() OVER (PARTITION BY shard ORDER BY mk, doc_id) AS BIGINT) AS pos_in_shard
        |  FROM k),
        |o AS (
        |  SELECT shard,
        |    CAST(coalesce(sum(count(*)) OVER
        |      (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM k GROUP BY shard)
        |SELECT p.doc_id, p.shard, p.pos_in_shard,
        |  p.pos_in_shard + o.off AS global_pos
        |FROM p JOIN o USING (shard) ORDER BY doc_id""".stripMargin
  )

  /** The DSIR feature/weight CTE chain (hashed unigram+bigram buckets,
    * add-1 smoothing, target = lang 'en', 6 dp rounding), shared
    * verbatim by the `dsir_score` and `dsir_select` oracles — one
    * feature-space definition (the perplexityCte discipline).
    */
  private val dsirCte =
    """wsx AS (SELECT doc_id, lang, string_split(text,' ') AS ws FROM documents),
      |uni AS (SELECT doc_id, lang, unnest(ws) AS g FROM wsx),
      |big AS (
      |  SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1])) AS g
      |  FROM wsx WHERE len(ws) >= 2),
      |gb AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substring(md5(g),1,4) AS INTEGER) % 1024 AS b
      |  FROM (SELECT * FROM uni WHERE len(g) > 0 UNION ALL SELECT * FROM big)),
      |docb AS (SELECT doc_id, lang, b, count(*) AS cxb FROM gb GROUP BY 1, 2, 3),
      |cnt AS (
      |  SELECT b, sum(cxb) AS cr,
      |    sum(CASE WHEN lang = 'en' THEN cxb ELSE 0 END) AS ct
      |  FROM docb GROUP BY b),
      |tot AS (SELECT sum(cr) AS r, sum(ct) AS t FROM cnt),
      |lam AS (
      |  SELECT b, ln((ct + 1.0) / (t + 1024.0)) - ln((cr + 1.0) / (r + 1024.0)) AS lam
      |  FROM cnt CROSS JOIN tot),
      |sc AS (
      |  SELECT d.doc_id, CAST(sum(cxb) AS BIGINT) AS n_feats,
      |    round(sum(cxb * lam), 6) AS score
      |  FROM docb d JOIN lam USING (b) GROUP BY d.doc_id)""".stripMargin
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Distributed BPE tokenizer training (SURVEY.md §2.12 capstone) — the
  * classic merge loop of Sennrich et al. (2016): count adjacent symbol
  * pairs over the word-frequency table, take the most frequent pair,
  * merge it everywhere, repeat. The one inherently-sequential decision
  * per iteration (WHICH pair is best) is a single top-1 row to the
  * driver; everything heavy stays distributed:
  *
  *  - the corpus collapses to the WORD-FREQUENCY table first (one
  *    shuffle, Zipf makes it vocab-scale, orders of magnitude smaller
  *    than the corpus — the table every BPE trainer actually iterates);
  *  - per iteration, pair counts are ONE map-side-combinable aggregation
  *    over that table (`zip_with` adjacent pairs × word freq, partial
  *    sums per partition), and the best pair is `orderBy.limit(1)` =
  *    TakeOrderedAndProject (per-partition top-1 heaps, one row moves);
  *  - re-segmentation is a pure per-row HOF fold (no shuffle), the next
  *    iteration's table is persisted and the previous unpersisted, so
  *    lineage depth stays 1 per iteration regardless of k.
  *
  * At 100 TB the corpus-to-vocab collapse is the only corpus-scale
  * shuffle; k iterations then cost k aggregations over a vocab-sized
  * cached table — the standard distributed-BPE shape.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String,
      merged: String, pair_count: Long)

  /** End-of-word marker (Sennrich et al.): lets merges learn word-final
    * units without crossing word boundaries.
    */
  val Eow = "</w>"

  /** Word-frequency table → (sym: array<string>, freq: long), symbols =
    * characters + the end-of-word marker.
    */
  private def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(split(col("w"), ""), array(lit(Eow))).as("sym"), col("freq"))

  /** Greedy left-to-right single-pass merge of the pair (a, b) in a
    * symbol array — the BPE re-segmentation step, as a pure fold (so
    * "aaa" under (a,a) becomes [aa, a], the standard greedy result).
    * `try_element_at` nulls on the empty accumulator instead of
    * throwing under ANSI; null never equals `a`, so the first symbol
    * always appends.
    */
  private[llm] def mergePair(sym: Column, a: String, b: String): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, x) =>
        when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Train `k` merges over the corpus; stops early when no pair reaches
    * `minPairCount`. Returns the deterministic merge sequence (ties on
    * count break lexicographically — same corpus, same merges, any
    * partitioning).
    *
    * Two execution paths with IDENTICAL semantics (BpeSpec pins them
    * equal on planted corpora):
    *  - the word table fits under `maxLocalVocab` → collect it (bounded:
    *    65536 rows × ~tens of bytes ≈ single-digit MB, the same
    *    threshold-enforced driver bound as the union-find edge cap and
    *    the IVF training sample) and run the loop in memory — k merges
    *    cost ZERO extra Spark jobs beyond the one corpus-scale
    *    word-count shuffle, which is what every practical BPE trainer
    *    does once the corpus has collapsed to vocab scale;
    *  - larger vocab → [[trainDistributed]], the fully-distributed loop
    *    (k map-side-combinable pair aggregations + HOF re-segmentation,
    *    one top-1 row to the driver per iteration).
    */
  def train(docs: DataFrame, k: Int, minPairCount: Long = 2,
      maxLocalVocab: Long = 1L << 16): Seq[Merge] = {
    val words = wordTable(docs).persist()
    val n = words.count()
    if (n <= maxLocalVocab) {
      val tbl = words.collect().map(r =>
        (r.getSeq[String](0).toArray, r.getLong(1)))
      words.unpersist()
      trainLocal(tbl, k, minPairCount)
    } else {
      trainDistributed(words, k, minPairCount)
    }
  }

  /** UTF-8 byte-lexicographic string order — Spark's `orderBy` on
    * StringType compares UTF8String bytes, while Scala's default String
    * ordering compares UTF-16 code units; the two disagree for
    * supplementary-plane vs U+E000..U+FFFF characters. The local path
    * breaks count ties with THIS ordering so local ≡ distributed holds
    * for any input, not just BMP/ASCII corpora (round-9 ADVICE).
    */
  private[graft] val utf8Order: Ordering[String] = (x: String, y: String) => {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    var r = 0
    while (r == 0 && i < a.length && i < b.length) {
      r = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
      i += 1
    }
    if (r != 0) r else java.lang.Integer.compare(a.length, b.length)
  }

  /** In-memory merge loop over a collected word table (the small-vocab
    * fast path of [[train]]). Same greedy rule, same tiebreak.
    */
  private def trainLocal(table: Array[(Array[String], Long)], k: Int,
      minPairCount: Long): Seq[Merge] = {
    var words = table
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (sym, f) =>
        var i = 0
        while (i < sym.length - 1) {
          val p = (sym(i), sym(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      val best =
        if (counts.isEmpty) None
        else Some(counts.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order)))
      best match {
        case Some(((a, b), c)) if c >= minPairCount =>
          out += Merge(rank, a, b, a + b, c)
          words = words.map { case (sym, f) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            sym.foreach { x =>
              if (acc.nonEmpty && acc.last == a && x == b) acc(acc.size - 1) = a + b
              else acc += x
            }
            (acc.toArray, f)
          }
          rank += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  /** Fully-distributed merge loop — the unbounded-vocab path. Consumes
    * (and unpersists) the passed word table.
    */
  private[llm] def trainDistributed(table: DataFrame, k: Int,
      minPairCount: Long): Seq[Merge] = {
    var words = table
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    var rank = 0
    while (rank < k && !done) {
      val top = words
        .select(col("freq"),
          explode(zip_with(col("sym"), slice(col("sym"), lit(2), size(col("sym"))),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .filter(col("p.b").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minPairCount) done = true
      else {
        val (a, b, cnt) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"),
          top(0).getAs[Long]("cnt"))
        out += Merge(rank, a, b, a + b, cnt)
        val next = words
          .select(mergePair(col("sym"), a, b).as("sym"), col("freq"))
          .persist()
        next.count()
        words.unpersist()
        words = next
        rank += 1
      }
    }
    words.unpersist()
    out.toSeq
  }

  /** Apply a learned merge sequence to a symbol-array column in rank
    * order (the tokenizer's encode step; the spec drives it to check
    * final segmentations, and `vocab_coverage`-style audits run over its
    * output).
    */
  def applyMerges(sym: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(sym)((s, m) => mergePair(s, m.left, m.right))

  /** Tokenize documents with a TRAINED merge sequence — the encode half
    * of the tokenizer loop (round-9 verdict ask #2): per row, each word
    * explodes to chars + `</w>` and folds through the merges in rank
    * order via [[mergePair]] (greedy left-to-right, the exact rule the
    * trainer used, so encoding the training corpus reproduces the
    * trainer's final segmentation — pinned in BpeSpec). Pure per-row
    * HOF projection: the merge table rides the plan as literals (the
    * broadcast-a-model shape of [[VectorOps.ivfCell]]'s centroids), no
    * shuffle anywhere.
    */
  def encode(text: Column, merges: Seq[Merge]): Column = {
    val words = filter(split(text, " "), w => length(w) > 0)
    flatten(transform(words, w =>
      applyMerges(concat(split(w, ""), array(lit(Eow))), merges)))
  }

  /** Corpus encode via a DISTINCT-WORD segmentation cache — the shape
    * every production tokenizer uses (word → token-list lookup table):
    * the k-merge greedy fold is O(k·|word|²) interpreted HOF work, so
    * paying it once per corpus OCCURRENCE is quadratic waste under Zipf
    * (measured 31.5 s at sf0.1; this path: the fold runs once per
    * DISTINCT word — vocab-scale, the same collapse [[train]] rides —
    * then a key join maps occurrences to cached segmentations and one
    * aggregation restores document order). AQE broadcasts the vocab
    * side while it is small; at 100 TB both the join and the rebuild
    * are plain key shuffles, never driver-bound. Segmentation is
    * bit-identical to the per-row [[encode]] fold (same merge
    * literals, same greedy rule — BpeSpec pins the two paths equal).
    */
  def encodeDocs(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spreadDocs = graft.Engine.spread(docs, "doc_id")
    val words = spreadDocs
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => length(w) > 0))
          .as(Seq("pos", "w")))
    val vocab = words.select("w").distinct()
      .select(col("w"),
        applyMerges(concat(split(col("w"), ""), array(lit(Eow))), merges).as("toks"))
    val encoded = words.join(vocab, "w")
      .groupBy("doc_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("toks")))),
        x => x.getField("toks"))).as("bpe"))
    // empty/whitespace-only docs explode to ZERO word rows and would
    // vanish from the groupBy — but encode() returns [] for the same
    // text, and a tokenizer that silently DROPS a document (instead of
    // reporting 0 tokens) breaks the paths-equal contract; restore them
    // with the empty segmentation
    spreadDocs.select("doc_id").join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bpe"), array().cast("array<string>")).as("bpe"))
  }

  /** r18-opt (guide §1.2): the per-doc DIGEST view of [[encodeDocs]] —
    * (doc_id, n_tokens, n_merged, h) — computed without ever
    * materializing the per-doc token ARRAY. Every query-path consumer
    * of encodeDocs only reads size(bpe), the merged-token count, or
    * md5(array_join(bpe, " ")); all three are per-WORD functions of
    * the segmentation, so the token/merged counts and the word's
    * joined token string are evaluated ONCE per distinct word on the
    * vocab side, and the per-doc aggregation sums longs and
    * concatenates compact pre-joined strings instead of flattening
    * and re-walking token arrays per occurrence. Identical values by
    * construction: Σ_w freq·size(toks) = size(flatten), every word
    * emits ≥ 1 token (the fold appends Eow) so joining per-word token
    * strings with " " equals array_join of the flattened stream, and
    * empty docs restore to (0, 0, md5("")) exactly as encodeDocs'
    * empty segmentation digests.
    */
  def encodeDigests(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spreadDocs = graft.Engine.spread(docs, "doc_id")
    val words = spreadDocs
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => length(w) > 0))
          .as(Seq("pos", "w")))
    // the fold is STAGED as an attribute before the three digest
    // projections reference it (the vec_pq/text_diversity
    // CodegenFallback-no-CSE lesson: CollapseProject keeps a non-cheap
    // multi-referenced alias staged, so the k-merge fold runs once per
    // word, not three times)
    val vocab = words.select("w").distinct()
      .withColumn("__toks",
        applyMerges(concat(split(col("w"), ""), array(lit(Eow))), merges))
      .select(col("w"),
        size(col("__toks")).cast("long").as("__nt"),
        size(filter(col("__toks"), t => length(t) > 1 && t =!= lit(Eow)))
          .cast("long").as("__nm"),
        array_join(col("__toks"), " ").as("__ts"))
    val encoded = words.join(vocab, "w")
      .groupBy("doc_id")
      .agg(sum(col("__nt")).as("n_tokens"),
        sum(col("__nm")).as("n_merged"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__ts")))),
          x => x.getField("__ts")), " ")).as("h"))
    spreadDocs.select("doc_id").join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_merged"), lit(0L)).as("n_merged"),
        coalesce(col("h"), md5(lit(""))).as("h"))
  }

  /** Trained merge sequence memoized per (session, dir) — the tokenizer
    * MODEL, trained once per corpus like [[VectorOps.ivfModel]]'s
    * centroids; `bpe_merges` itself stays unmemoized because that id
    * measures training. Stopped-session eviction as elsewhere.
    */
  private val mergeCache = Memo.slot[(String, Int), Seq[Merge]]("Bpe.mergeCache")

  def trainedMerges(s: SparkSession, dir: String, k: Int = 16): Seq[Merge] = {
    // k is part of the key: a 16-merge and a 32-merge tokenizer are
    // different MODELS (the kmeansModel rationale) — sharing one entry
    // would silently hand a caller the other's merge sequence
    mergeCache(s, (dir, k))(train(Tables(s, dir).documents, k))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // rows-only (the merge loop is inherently iterative — no single SQL
    // equivalent); the deterministic sequence is pinned by BpeSpec
    // against an independent in-JVM reference implementation.
    "bpe_merges" -> ((s, dir) => {
      val merges = train(Tables(s, dir).documents, k = 16)
      import s.implicits._
      merges.toDF().orderBy("rank")
    }),

    // the TRAINED tokenizer applied to the corpus (rows-only like
    // bpe_merges — the segmentation depends on the engine-trained merge
    // sequence): per doc, the BPE token count, how many tokens are
    // merged multi-char units (the vocab_coverage-style composition
    // stat — base symbols are single chars + the </w> marker, so any
    // longer token is a learned unit), and the md5 of the full token
    // stream (pins the exact segmentation, not just its size).
    "bpe_encode" -> ((s, dir) => {
      // r18-opt: the digest view — token/merged counts and the stream
      // md5 assembled from per-DISTINCT-WORD precomputed values instead
      // of flattening and re-walking the per-doc token array
      // (see [[encodeDigests]]; identical output by construction)
      val merges = trainedMerges(s, dir)
      encodeDigests(Tables(s, dir).documents.select("doc_id", "text"), merges)
        .orderBy("doc_id")
    }),

    // tokenizer fertility per language — the standard multilingual
    // tokenizer-quality report (tokens/word and bytes/token; a
    // tokenizer trained on skewed data inflates fertility for the
    // under-represented languages, so this table is what decides
    // whether the vocab budget is spent fairly). Rows-only like every
    // id downstream of the engine-trained merge sequence; per-language
    // consistency with bpe_encode's own token counts and the
    // fertility ≥ 1 bound (word-based BPE never merges across word
    // boundaries) pinned in BpeSpec. One encode join + one lang-keyed
    // aggregate — map-side combinable, |langs| output rows.
    "bpe_fertility" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      // r18-opt (guide §1.2, the tokenizer_budget precedent): the
      // per-LANG token totals are Σ freq(lang, w)·tokens-per-word over
      // the (lang, word) frequency table — the merge fold runs once
      // per distinct (lang, word), and no per-doc token array is ever
      // rebuilt (the old form ran the full encodeDocs join +
      // collect_list reassembly only to immediately sum the sizes).
      // Identical integers: per-word encode is independent across
      // words, and docs with zero non-empty words contribute 0.
      val merges = trainedMerges(s, dir)
      val toks = applyMerges(concat(split(col("w"), ""), array(lit(Eow))), merges)
      val tokensByLang = graft.Engine.spread(docs, "doc_id")
        .select(col("lang"),
          explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
        .select(col("lang"), (col("freq") * size(toks).cast("long")).as("t"))
        .groupBy("lang").agg(sum(col("t")).as("total_tokens"))
      docs.select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_bytes")).as("total_bytes"))
        .join(tokensByLang, Seq("lang"), "left")
        .withColumn("total_tokens", coalesce(col("total_tokens"), lit(0L)))
        .select("lang", "n_docs", "total_tokens", "total_words", "total_bytes")
        // round 16: the ratios ship as INTEGER MICRO-UNITS computed in
        // exact BIGINT rational arithmetic — round(a/b·1e6) =
        // (2·a·1e6 + b) div (2·b) — because round(DOUBLE, 6) proved
        // engine-version-sensitive in the driver's DuckDB when a
        // quotient lands within an ulp of a 5e-7 boundary (the
        // select_budget adjudication); no IEEE value exists anywhere
        // on the compare path.
        .withColumn("fertility_e6",
          expr("(2 * total_tokens * 1000000 + total_words) DIV (2 * total_words)"))
        .withColumn("bytes_per_token_e6",
          expr("(2 * total_bytes * 1000000 + total_tokens) DIV (2 * total_tokens)"))
        .orderBy("lang")
    }),

    // tokenizer vocab-budget sweep (round 15 cont.) — the "how many
    // merges do we actually need" table every tokenizer-training run
    // produces before freezing the vocab: the SAME trained merge
    // sequence truncated at V ∈ {0, 8, 16} merges, each prefix encoded
    // over the corpus (a BPE merge table's prefixes are themselves
    // valid BPE models — training is greedy-incremental, so rank-V
    // truncation IS the model that training with k=V would have
    // produced). Per V: corpus token total, learned-unit token total,
    // and fertility (tokens/word) — the compression-vs-vocab-size
    // curve. Three encode passes over the shared distinct-word vocab
    // join (each is the bpe_encode shape: vocab-sized fold + key join,
    // map-side-combinable 1-row aggregate); output is 3 rows. The
    // oracle replays each truncated-prefix encode independently via
    // the merge-embedding CTEs.
    "vocab_prune" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val all = trainedMerges(s, dir)
      // corpus TOTALS are Σ freq(w) · per-word counts, so the whole
      // sweep is ONE word-frequency aggregate + one vocab-sized
      // projection evaluating the three truncated-prefix folds side by
      // side + one summing aggregate — the k-merge fold runs once per
      // DISTINCT word per arm, never per occurrence, and no per-doc
      // token array is ever rebuilt (this replaced a 3× encodeDocs
      // form: 2.37 s → one vocab pass at sf0.1)
      val wf = docs
        .select(explode(filter(split(col("text"), " "),
          w => length(w) > 0)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val arms = Seq(0, 8, 16).map { v =>
        val toks = applyMerges(concat(split(col("w"), ""),
          array(lit(Eow))), all.take(v))
        Seq((col("freq") * size(toks).cast("long")).as(s"t$v"),
          (col("freq") * size(filter(toks,
            t => length(t) > 1 && t =!= lit(Eow))).cast("long")).as(s"m$v"))
      }
      val totals = wf
        .select(col("freq") +: arms.flatten: _*)
        .agg(sum(col("freq")).as("total_words"),
          sum(col("t0")).as("t0"), sum(col("m0")).as("m0"),
          sum(col("t8")).as("t8"), sum(col("m8")).as("m8"),
          sum(col("t16")).as("t16"), sum(col("m16")).as("m16"))
      totals
        .selectExpr("total_words",
          "stack(3, CAST(0 AS BIGINT), t0, m0, CAST(8 AS BIGINT), t8, m8," +
            " CAST(16 AS BIGINT), t16, m16) AS (n_merges, total_tokens, total_merged)")
        .select(col("n_merges"), col("total_tokens"), col("total_merged"),
          col("total_words"),
          round(col("total_tokens").cast("double") /
            col("total_words").cast("double"), 6).as("fertility"))
        .orderBy("n_merges")
    }),

    // the tokenize-and-pack CAPSTONE — the terminal export step of a
    // training-data pipeline as one declarative plan: Gopher quality
    // gate (the shared [[TextOps.GopherGate]] conjunction) → exact
    // dedup (min-id survivor per text) → BPE encode with the
    // corpus-trained tokenizer ([[trainedMerges]], the same model
    // `bpe_encode` applies) → fixed-capacity shard packing on the REAL
    // token counts (seq_pack's cumulative binning, but over BPE tokens
    // — whitespace counts misprice packing by the merge ratio, so the
    // shard budget would silently over/under-fill at train time).
    // Rows-only (the token counts depend on the engine-trained merge
    // sequence); budgets, determinism and round-trip order pinned in
    // BpeSpec. Scale shape: gate+dedup are a narrow scan + one
    // text-keyed window; encode is the vocab-cached key join; packing
    // is the two-level salt-local cumulative ([[withPackCum]]) — no
    // single task ever sorts a whole source, no all-pairs stage,
    // nothing driver-bound.
    "corpus_export" -> ((s, dir) =>
      withPackCum(exportTokenTable(s, dir))
        // SPILLOVER IS INTENDED (round-13 ADVICE, documented): shard =
        // floor(prev_cum/cap) is seq_pack-style cumulative binning —
        // docs are never split, and a doc straddling a boundary stays
        // in the shard its FIRST token lands in, so a shard holds up to
        // cap + (n_tokens − 1) tokens. That is the contract loaders
        // that concatenate-then-window expect (shard_offset tells them
        // where the straddle starts); hard-capped shards are the
        // `corpus_export_split` mode below.
        .withColumn("shard", floor((col("__cum") - col("n_tokens")) / ExportCap).cast("long"))
        .withColumn("shard_offset", (col("__cum") - col("n_tokens")) % ExportCap)
        .select("source", "doc_id", "n_tokens", "shard", "shard_offset", "h")
        .orderBy("source", "doc_id")),

    // the data-release manifest (round 16) — the artifact every public
    // corpus ships next to its shards (Dolma/Pile-style manifests):
    // per (source, shard), doc count, token mass, and a shard checksum
    // = md5 over the doc-level token-stream digests concatenated in
    // doc_id order — the integrity record a consumer verifies before
    // training. Ordered aggregation is the portability trick: Spark
    // sorts the collected (doc_id, h) structs (array_sort on a struct
    // orders by its first field), DuckDB uses string_agg ORDER BY —
    // same byte stream, same md5. Derived from the SAME shard
    // assignment corpus_export serves, so manifest and export cannot
    // disagree. Scale: one (source, shard)-keyed aggregate over the
    // already-shuffled token table; collect_list is shard-bounded
    // (≤ cap docs per shard).
    "training_manifest" -> ((s, dir) =>
      withPackCum(exportTokenTable(s, dir))
        .withColumn("shard",
          floor((col("__cum") - col("n_tokens")) / ExportCap).cast("long"))
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("h")))),
            x => x.getField("h")), "")).as("manifest_sha"))
        .orderBy("source", "shard")),

    // the HARD-capped export mode (round 13) — the other ending of the
    // spillover contract: the gated+deduped BPE token stream is cut at
    // exact 512-token boundaries and a straddling doc SPLITS into one
    // piece row per shard it touches (in-doc token range per piece, the
    // `seq_pack_split` arithmetic on REAL token counts). Every
    // non-final shard per source holds exactly cap tokens — what a
    // loader that memory-maps fixed-size shards needs. Rows-only like
    // `corpus_export` (token counts depend on the engine-trained merge
    // sequence); BpeSpec pins the exact-cap invariant and consistency
    // with the spillover view.
    "corpus_export_split" -> ((s, dir) =>
      splitPieces(exportTokenTable(s, dir))
        .orderBy("source", "doc_id", "shard")),

    // the COMPOSED data-release capstone (round 17, VERDICT item 7b) —
    // the §2.12 rows exist separately; this is the ONE declarative plan
    // a data team actually ships: fuzzy-decontaminated train split
    // (Curation.decontaminatedTrainFuzzy — decon_overlap's 20% integer
    // gate, one definition; the any-hit rule removes ~90% of train on
    // this shared-vocab fixture and would make the funnel vacuous)
    // → Gopher quality gate → exact dedup (min-id survivor
    // per text) → half-mass quality-budget admission (the
    // select_budget_approx histogram-threshold shape: a bounded
    // (quality_e6 → Σwords) histogram, threshold = deepest level whose
    // level-cumulative fits HALF the surviving word mass — relative so
    // it binds at every SF, all-integer so the oracle replays it from
    // scratch, NO global doc-scale window) → BPE encode with the
    // corpus-trained tokenizer → two-level shard packing → per-shard
    // release manifest with the ordered checksum. Every stage is the
    // same definition its standalone board id verifies; the composed
    // differential proves the CHAIN. Scale shape: scrub is semi+anti
    // hash joins, gate+dedup one text-keyed window, admission one
    // broadcast compare, encode the vocab-cached key join, packing the
    // bucketed cumulative — nothing driver-bound beyond the bounded
    // histogram/model collects.
    "corpus_release" -> ((s, dir) =>
      releaseManifest(s, dir).orderBy("source", "shard")),

    // Incremental re-release (round 18, VERDICT growth item a): the
    // weekly operation a data team actually re-runs — release N (the
    // corpus as of the last release: even doc_ids, the repo's standard
    // incremental demo split) vs release N+1 (the grown corpus), with
    // the EVAL SPLIT and the TOKENIZER frozen across releases and the
    // curation stages (dedup keepers, half-mass quality threshold)
    // re-derived per release corpus. The delta is the corpus_diff
    // digest idiom applied to shard manifests: a full-outer join on
    // (source, shard) keeping only added / removed / changed shards by
    // manifest_sha — the set of shards a consumer must re-fetch.
    // Cost: two manifest builds (each memoized per tag) + one
    // shard-count-sized join; at 100 TB the manifests are
    // shards×sources rows, never doc-scale.
    "corpus_release_delta" -> ((s, dir) => {
      val o = releaseManifest(s, dir, col("doc_id") % 2 === 0, "even")
        .withColumnRenamed("manifest_sha", "old_sha")
        .withColumnRenamed("n_docs", "o_docs")
        .withColumnRenamed("n_tokens", "o_tokens")
      val n = releaseManifest(s, dir)
        .withColumnRenamed("manifest_sha", "new_sha")
      o.join(n, Seq("source", "shard"), "full_outer")
        .filter(col("old_sha").isNull || col("new_sha").isNull ||
          col("old_sha") =!= col("new_sha"))
        .select(col("source"), col("shard"),
          when(col("old_sha").isNull, "added")
            .when(col("new_sha").isNull, "removed")
            .otherwise("changed").as("status"),
          col("old_sha"), col("new_sha"),
          col("n_docs").cast("long").as("n_docs"),
          col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("source", "shard")
    }),

    // Packing-efficiency report (round 15) — the accounting view a data
    // team reads after an export: per source, shard count, capacity,
    // real tokens packed and the padding-waste fraction (hard-capped
    // shards pad only the FINAL shard per source, which the numbers
    // make visible; spec asserts waste < cap). Derived from the SAME
    // piece table corpus_export_split serves, so the two ids cannot
    // disagree; one |sources|-row aggregate, waste_frac a single
    // long/long IEEE division.
    "pack_efficiency" -> ((s, dir) =>
      splitPieces(exportTokenTable(s, dir))
        .groupBy("source")
        .agg((max(col("shard")) + 1L).as("n_shards"),
          sum(col("piece_len")).as("n_tokens"))
        .select(col("source"),
          col("n_shards").cast("long").as("n_shards"),
          col("n_tokens").cast("long").as("n_tokens"),
          (col("n_shards") * ExportCap).cast("long").as("capacity"),
          (col("n_shards") * ExportCap - col("n_tokens")).cast("long").as("waste"),
          ((col("n_shards") * ExportCap - col("n_tokens")).cast("double")
            / (col("n_shards") * ExportCap)).as("waste_frac"))
        .orderBy("source"))
  )

  /** The hard-cap piece projection of `corpus_export_split`, over a
    * (source, doc_id, n_tokens, h) token table. Extracted so BpeSpec can
    * exercise the zero-token path directly (the Gopher gate makes it
    * unreachable through the full pipeline at this fixture): a doc that
    * encodes to ZERO tokens emits one zero-length piece row
    * (`greatest(n_tokens, 1)` bounds the shard sequence) rather than
    * being filtered out — round-14 ADVICE: a `n_tokens > 0` filter here
    * made the two export modes cover DIFFERENT doc sets on a corpus
    * where a gated+deduped doc BPE-encodes empty, breaking the
    * spec-pinned cross-mode doc-set equality with the spillover view.
    */
  private[llm] def splitPieces(tokens: DataFrame): DataFrame =
    withPackCum(tokens)
      .withColumn("start", col("__cum") - col("n_tokens"))
      .withColumn("shard",
        explode(sequence(expr(s"start div $ExportCap"),
          expr(s"(start + greatest(n_tokens, 1) - 1) div $ExportCap"))))
      .select(
        col("source"), col("doc_id"), col("n_tokens"), col("h"),
        col("shard").cast("long").as("shard"),
        (col("shard") - expr(s"start div $ExportCap")).cast("long").as("piece_idx"),
        greatest(lit(0L), col("shard") * ExportCap - col("start")).cast("long").as("tok_start"),
        least(col("n_tokens"), (col("shard") + 1) * ExportCap - col("start")).cast("long").as("tok_end"),
        greatest(lit(0L), col("start") - col("shard") * ExportCap).cast("long").as("shard_offset"))
      .withColumn("piece_len", col("tok_end") - col("tok_start"))

  /** Shared shard capacity of the export capstones (tokens per shard). */
  val ExportCap = 512L

  /** Bucket width of the two-level packing cumulative: each (source,
    * bucket) window task handles at most this many docs. Fixture-scale
    * here; at 100 TB set so the |sources|·(docs/width) offset table
    * stays broadcastable (e.g. 1e6 → ~100k offset rows for 1e11 docs).
    */
  private[llm] val PackBucketWidth = 64L

  /** Exact per-source cumulative token sum `__cum` in (source, doc_id)
    * packing order — the skew-safe two-level shape (round 17; the
    * `domain_cap_tokens` / `corpus_shuffle` precedent, Sampling.scala).
    * The one-window form sorts a whole source in ONE task — fine at
    * fixture scale, a scale-killer when one source holds billions of
    * docs. Here `bucket = doc_id DIV width` is MONOTONE in the packing
    * order (doc_id is integral), so per-source bucket runs are
    * contiguous: concatenating buckets in bucket order IS doc_id order,
    * and `__cum = bucket_offset + bucket_local_cum` is exactly the
    * one-window cumulative (the form the unchanged DuckDB oracles
    * state, so the differential proves the equivalence end-to-end;
    * PackCumSpec pins it structurally against the direct window on a
    * multi-bucket fixture). Physical shape: one window per
    * (source, bucket) over ≤ width rows, one counting agg to a
    * bucket-totals table, one TINY per-source prefix-sum window over
    * #buckets rows, one broadcast join back. No task ever sees more
    * than `width` full rows of a source.
    */
  private[llm] def withPackCum(tokens: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val bucketed = tokens.withColumn("__bkt", expr(s"doc_id DIV $PackBucketWidth"))
    val wLocal = W.partitionBy(col("source"), col("__bkt")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wOff = W.partitionBy(col("source")).orderBy(col("__bkt"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offs = bucketed.groupBy(col("source"), col("__bkt"))
      .agg(sum(col("n_tokens")).as("__bn"))
      .withColumn("__boff", coalesce(sum(col("__bn")).over(wOff), lit(0L)))
      .select("source", "__bkt", "__boff")
    bucketed
      .withColumn("__lcum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offs), Seq("source", "__bkt"))
      .withColumn("__cum", col("__boff") + col("__lcum"))
      .drop("__bkt", "__lcum", "__boff")
  }

  /** corpus_release stages 1–4: decontaminated train split → Gopher
    * gate → exact dedup → half-mass histogram-threshold quality
    * admission. Returns the admitted (doc_id, source, text). The
    * threshold is the one scalar memoized per (session, dir); both the
    * histogram levels (≤10⁶+1 by construction) and the rule are exact
    * integers, so the oracle re-derives it from scratch in SQL.
    */
  private val releaseThCache = Memo.slot[(String, String), Long]("Bpe.releaseThCache")

  /** `pred`/`tag` (round 18): the release chain parameterized by a
    * corpus predicate so `corpus_release_delta` can build release N
    * (even doc_ids) and N+1 (all) through the SAME stages — the eval
    * split and the tokenizer stay FROZEN across releases (what a
    * weekly re-release actually holds fixed) while dedup keepers and
    * the half-mass threshold re-derive from each release's own corpus.
    */
  private def releaseDocs(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true), tag: String = "all"): DataFrame = {
    val clean = Curation.decontaminatedTrainFuzzy(s, dir).select("doc_id")
    val docs = Tables(s, dir).documents.join(clean, "doc_id").filter(pred)
    val gated = docs.filter(TextOps.GopherGate.keep)
    val wDedup = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
    val survivors = gated
      .withColumn("__keep", min(col("doc_id")).over(wDedup))
      .filter(col("doc_id") === col("__keep"))
      .select("doc_id", "source", "text")
    val (nW, num, den) = TextOps.qualityE6Rational(col("text"))
    val scored = survivors
      .select(col("doc_id"), col("source"), col("text"),
        nW.cast("long").as("n_w"), num.as("qnum"), den.as("qden"))
      .withColumn("quality_e6", expr("(qnum * 2 + qden) DIV (qden * 2)"))
    val qStar: Long = releaseThCache(s, (dir, tag)) {
      // Bounded collect: quality_e6 ∈ [0, 10⁶] → ≤10⁶+1 distinct levels
      // → ≤~16 MB of (long, long) rows on the driver, independent of
      // corpus size (same bound as TextOps.selectBudgetApprox). The
      // isNotNull guard matches that sibling and the oracle's
      // WHERE quality_e6 IS NOT NULL: an empty-text survivor has
      // qden = NULL → quality_e6 = NULL, which would NPE getLong here
      // (unreachable today only because the Gopher gate excludes it).
      val hist = scored.filter(col("quality_e6").isNotNull)
        .groupBy("quality_e6").agg(sum(col("n_w")).as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
      val budget = hist.map(_._2).sum / 2
      var cum = 0L
      var q = Long.MaxValue // empty release if not even the top level fits
      for ((lvl, t) <- hist) { cum += t; if (cum <= budget) q = lvl }
      q
    }
    scored.filter(col("quality_e6") >= lit(qStar))
      .select("doc_id", "source", "text")
  }

  /** The export capstones' shared front half: Gopher gate → exact dedup
    * (min-id survivor per text) → BPE encode with the corpus-trained
    * tokenizer ([[trainedMerges]]) → per-doc REAL token count + token-
    * stream md5. Both packing modes consume this one table.
    */
  private val tokTabCache = Memo.slot[String, DataFrame]("Bpe.tokTabCache")

  private def exportTokenTable(s: SparkSession, dir: String): DataFrame = {
    // Memoized + persisted per (session, dir) since round 17: the
    // two-level packing cumulative consumes this table TWICE per plan
    // (bucket-local window + bucket-totals aggregate), and four export
    // ids share it — without the memo each id re-ran the full
    // gate→dedup→BPE-encode chain twice (measured ~+1 s/id at sf0.1).
    // Same write-once index cost model as NearDedup.shingled; released
    // at family boundaries via [[graft.Memo.release]].
    tokTabCache(s, dir) {
      val docs = Tables(s, dir).documents
      val gated = docs.filter(TextOps.GopherGate.keep)
      val wDedup = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
      val survivors = gated
        .withColumn("__keep", min(col("doc_id")).over(wDedup))
        .filter(col("doc_id") === col("__keep"))
        .select("doc_id", "source", "text")
      val merges = trainedMerges(s, dir)
      // r18-opt: digest view — counts/md5 from per-word precomputed
      // values, no per-doc token array (see [[encodeDigests]])
      survivors.select("doc_id", "source")
        .join(encodeDigests(survivors.select("doc_id", "text"), merges), "doc_id")
        .select(col("source"), col("doc_id"), col("n_tokens"), col("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  private val relTokCache = Memo.slot[(String, String), DataFrame]("Bpe.relTokCache")

  /** One release's shard manifest (source, shard, n_docs, n_tokens,
    * manifest_sha) over the `pred`-restricted corpus — the
    * corpus_release body, shared with `corpus_release_delta`. The
    * admitted-set token table is memoized+persisted per (session, dir,
    * tag) like [[exportTokenTable]]: the packing cumulative consumes it
    * twice.
    */
  private[llm] def releaseManifest(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true), tag: String = "all"): DataFrame = {
    val toks = relTokCache(s, (dir, tag)) {
      val rel = releaseDocs(s, dir, pred, tag)
      val merges = trainedMerges(s, dir)
      // r18-opt: digest view (see [[encodeDigests]])
      rel.select("doc_id", "source")
        .join(encodeDigests(rel.select("doc_id", "text"), merges), "doc_id")
        .select(col("source"), col("doc_id"), col("n_tokens"), col("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    withPackCum(toks)
      .withColumn("shard",
        floor((col("__cum") - col("n_tokens")) / ExportCap).cast("long"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("h")))),
          x => x.getField("h")), "")).as("manifest_sha"))
  }

  // --- DuckDB oracles for the encode/export family (round 15) ---------
  //
  // These ids were rows-only because their outputs depend on the
  // ENGINE-TRAINED merge sequence. The round-14 verdict's graduation
  // path: Verify dumps oracle_sql.json AFTER running the queries, so by
  // dump time the memoized model for this run's corpus exists — embed it
  // as SQL literals (the "merge table as fixture input" design) and the
  // APPLICATION side (greedy encode, fertility report, both export
  // packings) becomes independently DuckDB-replayable. Training itself
  // stays rows-only (`bpe_merges`, BpeSpec reference-parity).
  //
  // The encode replay does NOT re-state [[mergePair]]'s fold: tokens are
  // joined into one string with DOUBLE U+001F separators at every
  // boundary ("␟␟t1␟␟t2␟␟"), and applying merge (a,b) greedily
  // left-to-right is then EXACTLY `replace(s, '␟a␟␟b␟', '␟ab␟')` —
  // replace scans leftmost and resumes after each substitution (the
  // greedy rule), each match consumes one ␟ of each surrounding pair so
  // back-to-back merge sites stay matchable, and the single-␟ remainder
  // keeps the double-␟ invariant for the next rank. Overlap semantics
  // verified against mergePair: "aaaaa"+(a,a) → [aa,aa,a]. A corpus
  // token containing U+001F/U+001E would desynchronize the two engines
  // and FAIL the differential loudly (never a false pass — h pins the
  // exact token stream).
  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  private def mergesCte(ms: Seq[Merge]): String =
    if (ms.isEmpty) "SELECT CAST([] AS VARCHAR[]) AS ms"
    else "SELECT list(a || chr(30) || b ORDER BY rank) AS ms FROM (VALUES " +
      ms.map(m => s"(${m.rank}, ${sqlStr(m.left)}, ${sqlStr(m.right)})")
        .mkString(", ") + ") m(rank, a, b)"

  /** Shared encode CTE chain over a `src(doc_id, text, ...)` CTE —
    * mirrors [[encodeDocs]]: distinct-word vocab, per-word fold, per-doc
    * ordered flatten, empty-doc restore. `string_split(w, '')` splits on
    * code points with no trailing empty, matching Spark's `split(w, "")`
    * (pinned by BpeSpec: ASCII, astral, control chars, empty, é).
    */
  private def wordEncodeCtes: String =
    // NOTE: this text is re-embedded in OUTER .stripMargin templates —
    // no line may start with '|' (a leading '||' operator would lose
    // its first pipe to the outer strip); concatenation operators sit
    // at line ends throughout
    """fwt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS fw
      |  FROM src),
      |vocab AS (SELECT DISTINCT unnest(fw) AS w FROM fwt),
      |enc AS (
      |  SELECT w, list_filter(string_split(
      |    list_reduce(
      |      list_prepend(
      |        chr(31) || chr(31) || array_to_string(
      |          list_append(string_split(w, ''), '</w>'),
      |          chr(31) || chr(31)) || chr(31) || chr(31),
      |        (SELECT ms FROM merges)),
      |      (acc, x) -> replace(acc,
      |        chr(31) || string_split(x, chr(30))[1] || chr(31) || chr(31) ||
      |          string_split(x, chr(30))[2] || chr(31),
      |        chr(31) || string_split(x, chr(30))[1] ||
      |          string_split(x, chr(30))[2] || chr(31))),
      |    chr(31) || chr(31)), t -> t <> '') AS toks
      |  FROM vocab)""".stripMargin

  private def encodeCtes: String =
    s"""$wordEncodeCtes,
      |wp AS (SELECT doc_id, unnest(fw) AS w, unnest(range(len(fw))) AS pos FROM fwt),
      |agg AS (
      |  SELECT wp.doc_id, flatten(list(e.toks ORDER BY wp.pos)) AS flat
      |  FROM wp JOIN enc e USING (w) GROUP BY wp.doc_id),
      |doc_enc AS (
      |  SELECT src.doc_id, coalesce(a.flat, CAST([] AS VARCHAR[])) AS flat
      |  FROM src LEFT JOIN agg a USING (doc_id))""".stripMargin

  /** Corpus-total BPE tokens replayed ENTIRELY at word level — the
    * `tokenizer_compare` fragment since round 18. Total tokens over a
    * corpus of independently-encoded words is Σ freq(w)·|toks(w)|, so
    * the replay never builds per-doc token arrays (the `agg` flatten —
    * at 25× that per-doc materialization ×3 families was the DuckDB
    * memory bomb BASELINE.md records; word-level state is bounded by
    * the DISTINCT-word table instead of the token stream).
    */
  private[llm] def totalTokensSql(ms: Seq[Merge]): String =
    s"""WITH merges AS (${mergesCte(ms)}),
       |src AS (SELECT doc_id, text FROM documents),
       |$wordEncodeCtes,
       |wfreq AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(fw) AS w FROM fwt) GROUP BY w)
       |SELECT CAST(sum(wfreq.freq * len(e.toks)) AS BIGINT) AS n_tokens
       |FROM wfreq JOIN enc e USING (w)""".stripMargin

  /** The Gopher keep-conjunction, verbatim from the `gopher_rules`
    * oracle (TextOps) — the gate half of [[exportTokenTable]]. */
  private def gopherKeepSql: String =
    """len(string_split(text,' ')) >= 50 AND len(string_split(text,' ')) <= 100000
      |    AND CAST(length(replace(text,' ','')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) >= 3.0
      |    AND CAST(length(replace(text,' ','')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) <= 10.0
      |    AND CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / nullif(len(string_split(text,' ')), 0) < 0.1
      |    AND CAST(len(list_filter(string_split(text,' '), w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
      |        / nullif(len(string_split(text,' ')), 0) >= 0.8
      |    AND len(list_filter(string_split(text,' '),
      |        w -> w IN ('the','be','to','of','and','that','have','with'))) >= 2""".stripMargin

  /** Gated + exact-deduped survivors + token table — the oracle twin of
    * [[exportTokenTable]], shared by both export modes. */
  private def exportTokTabCtes: String =
    s"""src AS (
       |  SELECT doc_id, source, text FROM (
       |    SELECT d.doc_id, d.source, d.text,
       |      min(d.doc_id) OVER (PARTITION BY d.text) AS keep
       |    FROM documents d
       |    WHERE $gopherKeepSql)
       |  WHERE doc_id = keep),
       |$encodeCtes,
       |toktab AS (
       |  SELECT s2.source, s2.doc_id, len(flat) AS n_tokens,
       |    md5(coalesce(array_to_string(flat, ' '), '')) AS h
       |  FROM src s2 JOIN doc_enc USING (doc_id)),
       |cum AS (
       |  SELECT source, doc_id, n_tokens, h,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS c
       |  FROM toktab)""".stripMargin

  /** The live trained merges for `dir` if this JVM trained them (the
    * dir-keyed dynamic-oracle lookup, shared with [[oracleSql]]).
    */
  private[llm] def liveMergesFor(dir: String): Option[Seq[Merge]] = {
    mergeCache.live.filter { case ((d, k), _) => k == 16 && d == dir } match {
      case (_, merges) :: Nil => Some(merges)
      case _        => None
    }
  }

  def oracleSql: Map[String, String] = {
    // dir-keyed lookup (round-17 ADVICE) — see QualityModel.qmsOracle
    val live = mergeCache.live.filter { case ((d, k), _) =>
      k == 16 && graft.Engine.lastFixtureDir.contains(d) }
    val dynamic = live match {
      case (_, merges) :: Nil => oraclesFor(merges)
      // no trained model for THIS dump's dir this JVM (subset Verify
      // without a bpe id): dump no oracle — the ids degrade to the
      // rows-only check, never to a wrong-model differential
      case _ => Map.empty[String, String]
    }
    dynamic + ("bpe_merges" -> mergesSql)
  }

  /** STATIC oracle for `bpe_merges` (round 15) — unlike the encode
    * family this embeds NOTHING: the 16-iteration training loop itself
    * is replayed as 16 unrolled CTE stages, each = apply the previous
    * stage's winning merge with the double-separator `replace()`
    * equivalence, recount adjacent pairs weighted by word frequency,
    * take the (count DESC, a, b) argmax (DuckDB's binary string
    * collation ≡ the engine's utf8Order tiebreak), stop-guard cnt ≥ 2.
    * Every w/b CTE is MATERIALIZED — each is referenced twice and
    * DuckDB otherwise re-inlines per reference, going exponential in
    * the stage count (the dedup_incremental lesson). The unroll assumes
    * the corpus trains the full 16 merges (true at all 3 SFs + the
    * mixed-script fixture); a corpus that early-stops would FAIL the
    * differential loudly, never wrongly pass.
    */
  private lazy val mergesSql: String = {
    val sep2 = "chr(31) || chr(31)"
    val stages = (0 until 16).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT string_split(pr, chr(30))[1] AS a, string_split(pr, chr(30))[2] AS b,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || chr(30) || t[i+1])) AS pr, freq
         |    FROM (SELECT list_filter(string_split(sym, $sep2), x -> x <> '') AS t, freq FROM w$r))
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM p$r WHERE cnt >= 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT replace(w$r.sym, chr(31) || b$r.a || $sep2 || b$r.b || chr(31),
         |                 chr(31) || b$r.a || b$r.b || chr(31)) AS sym, w$r.freq
         |  FROM w$r CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    val union = (0 until 16).map(r =>
      s"""SELECT $r AS rank, a AS "left", b AS "right", a || b AS merged, cnt AS pair_count FROM b$r"""
    ).mkString("\n  UNION ALL ")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT $sep2 || array_to_string(list_append(string_split(w, ''), '</w>'), $sep2) || $sep2 AS sym,
       |    freq
       |  FROM (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w
       |    FROM documents) GROUP BY w)),
       |$stages
       |SELECT * FROM (
       |  $union
       |) ORDER BY rank""".stripMargin
  }

  /** One release's shard-manifest replay (the `corpus_release` oracle
    * body since round 18, parameterized by a `c.doc_id`-scoped corpus
    * predicate so `corpus_release_delta` replays release N and N+1
    * through the same stages; no ORDER BY — callers append or wrap).
    * The predicate lands in gsrc's WHERE, before the dedup window and
    * the quality histogram — matching the engine's docs-stage filter.
    */
  private def releaseManifestSql(ms: Seq[Merge], extraWhere: String): String =
    s"""WITH merges AS (${mergesCte(ms)}),
       |${Curation.deconFuzzyCtes},
       |gsrc AS (
       |  SELECT doc_id, source, text FROM (
       |    SELECT c.doc_id, c.source, c.text,
       |      min(c.doc_id) OVER (PARTITION BY c.text) AS keep
       |    FROM clean c
       |    WHERE ($gopherKeepSql)
       |      AND ($extraWhere))
       |  WHERE doc_id = keep),
       |relq AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS w,
       |    CAST(len(list_filter(string_split(text,' '),
       |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS stop,
       |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS sym,
       |    CAST(nullif(length(text), 0) AS BIGINT) AS len
       |  FROM gsrc),
       |scored AS (
       |  SELECT doc_id, w AS n_w,
       |    CAST((2 * ((w*len) * (5000*least(100, w) + 200000)
       |          + 300000*stop*len - 200000*sym*w) + w*len)
       |      // (2 * w*len) AS BIGINT) AS q
       |  FROM relq),
       |hist AS (SELECT q, CAST(sum(n_w) AS BIGINT) AS t FROM scored GROUP BY 1),
       |cumq AS (
       |  SELECT q, CAST(sum(t) OVER (ORDER BY q DESC) AS BIGINT) AS cumt
       |  FROM hist),
       |sel AS (
       |  SELECT s.doc_id FROM scored s JOIN cumq ON s.q = cumq.q
       |  WHERE cumt <= (SELECT CAST(sum(t) // 2 AS BIGINT) FROM hist)),
       |src AS (SELECT g.doc_id, g.text FROM gsrc g JOIN sel USING (doc_id)),
       |$encodeCtes,
       |toktab AS (
       |  SELECT g.source, g.doc_id, len(flat) AS n_tokens,
       |    md5(coalesce(array_to_string(flat, ' '), '')) AS h
       |  FROM gsrc g JOIN doc_enc USING (doc_id)),
       |relcum AS (
       |  SELECT source, doc_id, n_tokens, h,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS c
       |  FROM toktab),
       |sh AS (
       |  SELECT source, doc_id, n_tokens, h,
       |    CAST((c - n_tokens) // 512 AS BIGINT) AS shard
       |  FROM relcum)
       |SELECT source, shard, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  md5(string_agg(h, '' ORDER BY doc_id)) AS manifest_sha
       |FROM sh GROUP BY 1, 2""".stripMargin

  private def oraclesFor(ms: Seq[Merge]): Map[String, String] = Map(
    // each truncated prefix replayed as its own WITH-scoped encode —
    // a BPE merge table's prefixes are themselves valid BPE models
    "vocab_prune" -> {
      val arms = Seq(0, 8, 16).map { v =>
        s"""SELECT * FROM (WITH merges AS (${mergesCte(ms.take(v))}),
           |src AS (SELECT doc_id, text FROM documents),
           |$encodeCtes,
           |tw AS (SELECT CAST(sum(len(fw)) AS BIGINT) AS total_words FROM fwt)
           |SELECT CAST($v AS BIGINT) AS n_merges,
           |  CAST(sum(len(flat)) AS BIGINT) AS total_tokens,
           |  CAST(sum(len(list_filter(flat, t -> len(t) > 1 AND t <> '</w>'))) AS BIGINT) AS total_merged,
           |  (SELECT total_words FROM tw) AS total_words,
           |  round(CAST(sum(len(flat)) AS DOUBLE) /
           |    CAST((SELECT total_words FROM tw) AS DOUBLE), 6) AS fertility
           |FROM doc_enc) v$v""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$arms\n) ORDER BY n_merges"
    },
    "bpe_encode" ->
      s"""WITH merges AS (${mergesCte(ms)}),
         |src AS (SELECT doc_id, text FROM documents),
         |$encodeCtes
         |SELECT doc_id, len(flat) AS n_tokens,
         |  len(list_filter(flat, t -> len(t) > 1 AND t <> '</w>')) AS n_merged,
         |  md5(coalesce(array_to_string(flat, ' '), '')) AS h
         |FROM doc_enc ORDER BY doc_id""".stripMargin,
    "bpe_fertility" ->
      s"""WITH merges AS (${mergesCte(ms)}),
         |src AS (SELECT doc_id, text FROM documents),
         |$encodeCtes,
         |pd AS (
         |  SELECT d.doc_id, d.lang,
         |    len(string_split(d.text, ' ')) AS n_words,
         |    strlen(d.text) AS n_bytes,
         |    len(e.flat) AS n_tokens
         |  FROM documents d JOIN doc_enc e USING (doc_id))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_words) AS BIGINT) AS total_words,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  CAST((2 * sum(n_tokens) * 1000000 + sum(n_words))
         |    // (2 * sum(n_words)) AS BIGINT) AS fertility_e6,
         |  CAST((2 * sum(n_bytes) * 1000000 + sum(n_tokens))
         |    // (2 * sum(n_tokens)) AS BIGINT) AS bytes_per_token_e6
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,
    "corpus_export" ->
      s"""WITH merges AS (${mergesCte(ms)}),
         |$exportTokTabCtes
         |SELECT source, doc_id, n_tokens,
         |  CAST((c - n_tokens) // 512 AS BIGINT) AS shard,
         |  CAST((c - n_tokens) % 512 AS BIGINT) AS shard_offset, h
         |FROM cum ORDER BY source, doc_id""".stripMargin,
    // same shard assignment as corpus_export; checksum = md5 over the
    // doc-id-ordered concatenation of per-doc digests (string_agg
    // ORDER BY ≡ the engine's struct-sorted collect)
    "training_manifest" ->
      s"""WITH merges AS (${mergesCte(ms)}),
         |$exportTokTabCtes,
         |sh AS (
         |  SELECT source, doc_id, n_tokens, h,
         |    CAST((c - n_tokens) // 512 AS BIGINT) AS shard
         |  FROM cum)
         |SELECT source, shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  md5(string_agg(h, '' ORDER BY doc_id)) AS manifest_sha
         |FROM sh GROUP BY 1, 2 ORDER BY source, shard""".stripMargin,
    // the composed release chain: decon CTEs (Curation, verbatim) →
    // gate+dedup → half-mass histogram threshold (replayed from
    // scratch, all-integer) → encode → packing cum → manifest
    "corpus_release" -> (releaseManifestSql(ms, "true") +
      "\nORDER BY source, shard"),

    // release N (even doc_ids) and N+1 (all) replay through the SAME
    // parameterized chain, each in its own MATERIALIZED scope (the
    // tokenizer_compare memory discipline), then the digest diff
    "corpus_release_delta" ->
      s"""WITH m_old AS MATERIALIZED (
         |  SELECT * FROM (${releaseManifestSql(ms, "c.doc_id % 2 = 0")})),
         |m_new AS MATERIALIZED (
         |  SELECT * FROM (${releaseManifestSql(ms, "true")}))
         |SELECT coalesce(o.source, n.source) AS source,
         |  coalesce(o.shard, n.shard) AS shard,
         |  CASE WHEN o.source IS NULL THEN 'added'
         |       WHEN n.source IS NULL THEN 'removed'
         |       ELSE 'changed' END AS status,
         |  o.manifest_sha AS old_sha, n.manifest_sha AS new_sha,
         |  n.n_docs AS n_docs, n.n_tokens AS n_tokens
         |FROM m_old o FULL OUTER JOIN m_new n
         |  ON o.source = n.source AND o.shard = n.shard
         |WHERE o.source IS NULL OR n.source IS NULL
         |   OR o.manifest_sha <> n.manifest_sha
         |ORDER BY source, shard""".stripMargin,
    "corpus_export_split" ->
      s"""WITH merges AS (${mergesCte(ms)}),
         |$exportTokTabCtes,
         |pieces AS (
         |  SELECT source, doc_id, n_tokens, h, c - n_tokens AS strt,
         |    unnest(range(CAST((c - n_tokens) // 512 AS BIGINT),
         |      CAST((c - n_tokens + greatest(n_tokens, 1) - 1) // 512 + 1 AS BIGINT))) AS shard
         |  FROM cum)
         |SELECT source, doc_id, n_tokens, h,
         |  CAST(shard AS BIGINT) AS shard,
         |  CAST(shard - strt // 512 AS BIGINT) AS piece_idx,
         |  CAST(greatest(0, shard * 512 - strt) AS BIGINT) AS tok_start,
         |  CAST(least(n_tokens, (shard + 1) * 512 - strt) AS BIGINT) AS tok_end,
         |  CAST(greatest(0, strt - shard * 512) AS BIGINT) AS shard_offset,
         |  CAST(least(n_tokens, (shard + 1) * 512 - strt)
         |    - greatest(0, shard * 512 - strt) AS BIGINT) AS piece_len
         |FROM pieces ORDER BY source, doc_id, shard""".stripMargin,
    "pack_efficiency" ->
      s"""WITH merges AS (${mergesCte(ms)}),
         |$exportTokTabCtes,
         |pieces AS (
         |  SELECT source, doc_id, c - n_tokens AS strt, n_tokens,
         |    unnest(range(CAST((c - n_tokens) // 512 AS BIGINT),
         |      CAST((c - n_tokens + greatest(n_tokens, 1) - 1) // 512 + 1 AS BIGINT))) AS shard
         |  FROM cum),
         |pl AS (
         |  SELECT source, shard,
         |    least(n_tokens, (shard + 1) * 512 - strt)
         |      - greatest(0, shard * 512 - strt) AS piece_len
         |  FROM pieces),
         |psum AS (
         |  SELECT source, CAST(max(shard) + 1 AS BIGINT) AS n_shards,
         |    CAST(sum(piece_len) AS BIGINT) AS n_tokens
         |  FROM pl GROUP BY source)
         |SELECT source, n_shards, n_tokens,
         |  n_shards * 512 AS capacity,
         |  n_shards * 512 - n_tokens AS waste,
         |  CAST(n_shards * 512 - n_tokens AS DOUBLE) / (n_shards * 512) AS waste_frac
         |FROM psum ORDER BY source""".stripMargin
  )
}

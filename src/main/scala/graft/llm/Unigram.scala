package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Unigram-LM tokenizer (round 17 — the SentencePiece family, Kudo
  * 2018), completing the tokenizer trio next to [[Bpe]] (merge-rank)
  * and [[WordPiece]] (likelihood-merge): a PIECE INVENTORY with
  * maximum-likelihood unigram probabilities, decoded by exact Viterbi.
  *
  * Training here is the seed-inventory construction with ML
  * frequency estimates (the stage every unigram trainer starts from;
  * EM re-estimation and iterative pruning are refinements of the same
  * integer-count artifact and stay out of scope so the WHOLE model is
  * integer-replayable): piece weight = Σ_words freq(word) ×
  * occurrences(piece ⊆ word) over all substrings of 1..4 code points;
  * the vocab keeps EVERY single char (closure: any same-corpus word is
  * segmentable) plus the top-[[MultiPieces]] multi-char pieces by
  * (weight DESC, piece bytes ASC). All-integer → `unigram_train` has a
  * STATIC from-scratch SQL oracle.
  *
  * Decoding ships quantized integer costs logp_e9 = round(10⁹·ln(T/f))
  * (T = Σ vocab weights) — computed ONCE at model build engine-side
  * and embedded in the oracle as literals (the merge-embedding idiom),
  * so the Viterbi DP compares EXACT BIGINTs in both engines; see
  * [[graft.functions.UnigramEncode]] for the decode contract and the
  * oracle's unrolled-DP replay.
  */
object Unigram {

  /** Multi-char pieces kept beside the single-char closure. */
  val MultiPieces = 64

  /** Max piece length in code points (the DP's lookback). */
  val MaxPieceCp = 4

  private def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** (piece, weight) over all 1..4-cp substrings, doc-frequency
    * weighted (overlapping occurrences counted — the standard seed
    * statistic). One vocab-scale explode + ONE counting aggregate.
    */
  private def pieceWeights(docs: DataFrame): DataFrame =
    wordFreq(docs)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> transform(sequence(1, least($MaxPieceCp, length(w) - i + 1)),
           |    l -> substring(w, i, l))))""".stripMargin)).as("p"),
        col("freq"))
      .groupBy("p").agg(sum(col("freq")).as("weight"))

  /** Final vocab rows: (piece, weight, is_char). Deterministic: chars
    * are closed over, multi-char pieces are the byte-ordered top-K.
    */
  private[llm] def vocabDf(docs: DataFrame): DataFrame = {
    val pw = pieceWeights(docs)
    val chars = pw.filter(length(col("p")) === 1)
      .select(col("p"), col("weight"), lit(true).as("is_char"))
    val multi = pw.filter(length(col("p")) >= 2)
      .orderBy(col("weight").desc, col("p"))
      .limit(MultiPieces)
      .select(col("p"), col("weight"), lit(false).as("is_char"))
    chars.unionByName(multi)
  }

  /** Trained model memoized per (session, dir): vocab (piece, weight)
    * plus the quantized decode costs. The ln quantization happens HERE,
    * once, in driver doubles — the value is then a fixture input to
    * both engines (no IEEE op on any compare path).
    */
  private val modelCache = Memo.slot[String, Seq[(String, Long, Long)]]("Unigram.modelCache")

  /** (piece, weight, logp_e9) rows of the trained model. */
  def trainedModel(s: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    modelCache(s, dir) {
      val rows = vocabDf(Tables(s, dir).documents)
        .select("p", "weight").collect()
        .map(r => (r.getString(0), r.getLong(1))) // bounded: |alphabet| + 64
      val total = rows.map(_._2).sum.toDouble
      rows.map { case (p, f) =>
        (p, f, math.round(1e9 * math.log(total / f)))
      }.toSeq.sortBy(_._1)(Bpe.utf8Order)
    }
  }

  /** Corpus encode via the distinct-word cache (the Bpe/WordPiece
    * shape); the Viterbi runs once per distinct word as a native
    * [[graft.functions.UnigramEncode]] eval.
    */
  def encodeDocs(docs: DataFrame, model: Seq[(String, Long, Long)]): DataFrame = {
    graft.functions.UnigramEncode.ensureRegistered(docs.sparkSession)
    val packed = typedLit(model.map { case (p, _, lp) => s"$lp\u001E$p" })
    val spreadDocs = graft.Engine.spread(docs, "doc_id")
    val words = spreadDocs
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => length(w) > 0))
          .as(Seq("pos", "w")))
    val cache = words.select("w").distinct()
      .select(col("w"),
        graft.functions.UnigramEncode
          .unigram_encode_word(col("w"), packed).as("seg"))
    val encoded = words.join(cache, "w")
      .groupBy("doc_id")
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("seg.toks").as("t")))),
          x => x.getField("t"))).as("toks"),
        sum(col("seg.n_tokens")).as("n_tokens"),
        sum(col("seg.cost_e9")).as("cost_e9"))
    spreadDocs.select("doc_id").join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("toks"), array().cast("array<string>")).as("toks"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("cost_e9"), lit(0L)).as("cost_e9"))
  }

  /** Per-doc encode DIGESTS (doc_id, n_tokens, cost_e9, h) computed
    * without ever materializing the per-doc token ARRAY — the
    * [[Bpe.encodeDigests]] idiom (r19): `unigram_encode` only reads
    * scalar totals and md5(array_join(toks, " ")), all per-WORD
    * functions of the segmentation, so the Viterbi's token count, cost
    * and joined token string are evaluated once per distinct word and
    * the per-doc aggregation sums longs and concatenates compact
    * pre-joined strings instead of flattening and re-walking token
    * arrays per occurrence. Identical values by construction: every
    * non-empty word segments to ≥ 1 piece ([UNK]/[LONG] fallbacks
    * included), so joining per-word token strings with " " equals
    * array_join of the flattened stream, and empty docs restore to
    * (0, 0, md5("")) exactly as [[encodeDocs]]' empty toks digest.
    */
  def encodeDigests(docs: DataFrame, model: Seq[(String, Long, Long)]): DataFrame = {
    graft.functions.UnigramEncode.ensureRegistered(docs.sparkSession)
    val packed = typedLit(model.map { case (p, _, lp) => s"$lp\u001E$p" })
    val spreadDocs = graft.Engine.spread(docs, "doc_id")
    val words = spreadDocs
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => length(w) > 0))
          .as(Seq("pos", "w")))
    // the native eval is STAGED before the three digest projections
    // reference it (the Bpe.encodeDigests/CollapseProject discipline)
    val cache = words.select("w").distinct()
      .withColumn("__seg",
        graft.functions.UnigramEncode.unigram_encode_word(col("w"), packed))
      .select(col("w"),
        col("__seg.n_tokens").as("__nt"),
        col("__seg.cost_e9").as("__ce"),
        array_join(col("__seg.toks"), " ").as("__ts"))
    val encoded = words.join(cache, "w")
      .groupBy("doc_id")
      .agg(sum(col("__nt")).as("n_tokens"),
        sum(col("__ce")).as("cost_e9"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__ts")))),
          x => x.getField("__ts")), " ")).as("h"))
    spreadDocs.select("doc_id").join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("cost_e9"), lit(0L)).as("cost_e9"),
        coalesce(col("h"), md5(lit(""))).as("h"))
  }

  /** One quantized hard-EM (Viterbi-EM) iteration over the seed model
    * (round 18 — the refinement Unigram.scala's header scoped out, now
    * in reach by the same integer-replay idiom): E-step = the existing
    * exact Viterbi under the seed's quantized logp_e9 costs, once per
    * DISTINCT word; M-step = one counting aggregate — the new weight of
    * a piece is Σ_words freq(word)·occurrences(piece ∈ viterbi(word)),
    * an exact integer. Pieces the Viterbi never uses drop out (the EM
    * prune; closure over the corpus is preserved because every word's
    * own segmentation survives verbatim). Re-quantization to new
    * logp_e9 costs happens driver-side at model build exactly like the
    * seed's ([[trainedModel]]) — no IEEE value on any compare path; the
    * compare table is all-integer (piece, weight_seed, weight_em,
    * is_char).
    */
  private val emCache = Memo.slot[String, Seq[(String, Long, Long)]]("Unigram.emCache")

  /** Distributed E-step piece counts under the seed model: (p, weight_em). */
  private def emCounts(s: SparkSession, dir: String): DataFrame = {
    graft.functions.UnigramEncode.ensureRegistered(s)
    val m0 = trainedModel(s, dir)
    val packed = typedLit(m0.map { case (p, _, lp) => s"$lp\u001E$p" })
    wordFreq(Tables(s, dir).documents)
      .select(col("freq"),
        graft.functions.UnigramEncode
          .unigram_encode_word(col("w"), packed).as("seg"))
      .select(col("freq"), explode(col("seg.toks")).as("p"))
      .filter(!col("p").isin("[UNK]", "[LONG]"))
      .groupBy("p").agg(sum(col("freq")).as("weight_em"))
  }

  /** (piece, weight_em, logp_e9) rows of the EM-refined model — the
    * [[trainedModel]] contract after one Viterbi-EM step, usable by
    * [[encodeDocs]] directly (the likelihood-improves spec re-encodes
    * the corpus under it).
    */
  def emModel(s: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    emCache(s, dir) {
      val rows = emCounts(s, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))) // bounded: ≤ |seed vocab|
      val total = rows.map(_._2).sum.toDouble
      rows.map { case (p, f) =>
        (p, f, math.round(1e9 * math.log(total / f)))
      }.toSeq.sortBy(_._1)(Bpe.utf8Order)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the seed-inventory model itself — all-integer, statically
    // replayable (substring weights + char closure + byte-ordered top-K)
    "unigram_train" -> ((s, dir) =>
      vocabDf(Tables(s, dir).documents)
        .select(col("p").as("piece"),
          col("weight").cast("long").as("weight"), col("is_char"))
        .orderBy("piece")),

    // one quantized Viterbi-EM step: seed weights next to the
    // re-estimated weights (Σ freq·piece-uses over the corpus's
    // Viterbi segmentations) — the all-integer refinement table; the
    // joint plan is two vocab-scale aggregates + a vocab-scale join
    // (AQE broadcasts), the corpus touched once per side
    "unigram_train_em" -> ((s, dir) => {
      val seed = vocabDf(Tables(s, dir).documents)
        .select(col("p"), col("weight").cast("long").as("weight_seed"),
          col("is_char"))
      seed.join(emCounts(s, dir), "p") // inner: EM-pruned pieces drop
        .select(col("p").as("piece"), col("weight_seed"),
          col("weight_em").cast("long").as("weight_em"), col("is_char"))
        .orderBy("piece")
    }),

    // exact-Viterbi corpus encode under the quantized-cost model: per
    // doc, token count, total integer cost, stream md5
    "unigram_encode" -> ((s, dir) => {
      val model = trainedModel(s, dir)
      // r19: digest view — see [[encodeDigests]]
      encodeDigests(Tables(s, dir).documents, model)
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("cost_e9").cast("long").as("cost_e9"),
          col("h"))
        .orderBy("doc_id")
    })
  )

  // --- DuckDB oracles --------------------------------------------------

  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  /** Seed-inventory replay CTEs (wt/sub/chars/multi) — shared by the
    * static `unigram_train` oracle and the `unigram_train_em` composed
    * oracle (one definition so the EM oracle's seed columns can never
    * drift from the train oracle on a rule tweak).
    */
  private val seedCtes: String =
    s"""wt AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w
       |    FROM documents) GROUP BY w),
       |sub AS (
       |  SELECT p, CAST(sum(freq) AS BIGINT) AS weight FROM (
       |    SELECT unnest(flatten(list_transform(range(1, len(w) + 1),
       |      i -> list_transform(range(1, least($MaxPieceCp, len(w) - i + 1) + 1),
       |        l -> substring(w, CAST(i AS INTEGER), CAST(l AS INTEGER)))))) AS p,
       |      freq
       |    FROM wt)
       |  GROUP BY p),
       |chars AS (SELECT p, weight, true AS is_char FROM sub WHERE len(p) = 1),
       |multi AS (
       |  SELECT p, weight, false AS is_char FROM sub WHERE len(p) >= 2
       |  ORDER BY weight DESC, p LIMIT $MultiPieces)""".stripMargin

  /** STATIC oracle for `unigram_train`: substring weights, char
    * closure, byte-ordered top-K — replayed from the raw corpus.
    */
  private val trainSql: String =
    s"""WITH $seedCtes
       |SELECT p AS piece, weight, is_char FROM (
       |  SELECT * FROM chars UNION ALL SELECT * FROM multi)
       |ORDER BY piece""".stripMargin

  /** Dynamic oracle for `unigram_train_em` (round 18): the E-step rides
    * the existing unrolled Viterbi replay ([[segCtes]] under the SEED
    * model's embedded quantized costs) joined to the word-frequency
    * table — weight_em(p) = Σ freq·occurrences(p ∈ path), an exact
    * integer count over the per-word paths ('[UNK]'/'[LONG]'
    * pseudo-paths excluded like the engine); seed columns replay from
    * scratch via [[seedCtes]]. Inner join = the EM prune.
    */
  private[llm] def emSql(model: Seq[(String, Long, Long)]): String =
    s"""WITH ${segCtes(model)},
       |$seedCtes,
       |em AS (
       |  SELECT p, CAST(sum(freq) AS BIGINT) AS weight_em FROM (
       |    SELECT unnest(string_split(g.path, ' ')) AS p, t.freq
       |    FROM seg g JOIN wt t USING (w)
       |    WHERE g.path <> '[UNK]' AND g.path <> '[LONG]')
       |  GROUP BY p),
       |seedv AS (
       |  SELECT p, weight AS weight_seed, is_char FROM (
       |    SELECT * FROM chars UNION ALL SELECT * FROM multi))
       |SELECT s.p AS piece, s.weight_seed, e.weight_em, s.is_char
       |FROM seedv s JOIN em e USING (p)
       |ORDER BY piece""".stripMargin

  /** Dynamic oracle for `unigram_encode` — the unrolled exact-integer
    * Viterbi replay: the quantized model rides as VALUES literals; a
    * rolling 4-column DP table advances one code point per MATERIALIZED
    * stage (struct(c, k, path) cells, candidates min'd by DuckDB's
    * lexicographic struct sort ≡ the engine's (cost, n_pieces,
    * path-bytes) tie-break), unrolled to [[graft.functions.UnigramEncode.MaxWordCp]]
    * stages; longer words are '[LONG]' in both engines. Then the
    * standard distinct-word → doc flatten.
    */
  private def segCtes(model: Seq[(String, Long, Long)]): String = {
    val maxL = graft.functions.UnigramEncode.MaxWordCp
    val rows = model.map { case (p, _, lp) => s"(${sqlStr(p)}, $lp)" }.mkString(", ")
    val nullCell = "CAST(NULL AS STRUCT(c BIGINT, k BIGINT, path VARCHAR))"
    val stages = (1 to maxL).map { k =>
      val cands = Seq(1, 2, 3, 4).filter(_ <= k).map { j =>
        val col = Seq("pa", "pb", "pc", "pd")(j - 1)
        val piece = s"substring(w, ${k - j + 1}, $j)"
        s"""CASE WHEN len(w) >= $k AND $col IS NOT NULL
           |        AND (SELECT lp FROM uvocab v WHERE v.p = $piece) IS NOT NULL
           |      THEN {'c': $col.c + (SELECT lp FROM uvocab v WHERE v.p = $piece),
           |            'k': $col.k + CAST(1 AS BIGINT),
           |            'path': $col.path ||
           |              (CASE WHEN $col.path = '' THEN '' ELSE ' ' END) || $piece}
           |      END""".stripMargin
      }.mkString(",\n      ")
      s"""s$k AS MATERIALIZED (
         |  SELECT w,
         |    list_sort(list_filter([
         |      $cands], x -> x IS NOT NULL))[1] AS a,
         |    pa AS b, pb AS c, pc AS d
         |  FROM (SELECT w, a AS pa, b AS pb, c AS pc, d AS pd FROM s${k - 1}))""".stripMargin
    }.mkString(",\n")
    val finals = (1 to maxL)
      .map(k => s"SELECT w, a AS dp FROM s$k WHERE len(w) = $k")
      .mkString("\n  UNION ALL ")
    s"""uvocab(p, lp) AS (SELECT * FROM (VALUES $rows) t(p, lp)),
       |src AS (SELECT doc_id, text FROM documents),
       |fwt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS fw
       |  FROM src),
       |vwords AS (SELECT DISTINCT unnest(fw) AS w FROM fwt WHERE len(fw) > 0),
       |s0 AS (
       |  SELECT w, {'c': CAST(0 AS BIGINT), 'k': CAST(0 AS BIGINT), 'path': ''} AS a,
       |    $nullCell AS b, $nullCell AS c, $nullCell AS d
       |  FROM vwords WHERE len(w) <= $maxL),
       |$stages,
       |fin AS (
       |  $finals),
       |seg AS (
       |  SELECT w,
       |    CASE WHEN dp IS NULL THEN '[UNK]' ELSE dp.path END AS path,
       |    CASE WHEN dp IS NULL THEN CAST(1 AS BIGINT) ELSE dp.k END AS nk,
       |    CASE WHEN dp IS NULL THEN CAST(0 AS BIGINT) ELSE dp.c END AS cost
       |  FROM fin
       |  UNION ALL
       |  SELECT w, '[LONG]' AS path, CAST(1 AS BIGINT) AS nk, CAST(0 AS BIGINT) AS cost
       |  FROM vwords WHERE len(w) > $maxL)""".stripMargin
  }

  /** Corpus-total unigram tokens replayed ENTIRELY at word level (the
    * `tokenizer_compare` fragment since round 18) — Σ freq(w)·nk(w)
    * over the distinct-word table; no per-doc token streams (see
    * [[Bpe.totalTokensSql]] for the 25× memory rationale).
    */
  private[llm] def totalTokensSql(model: Seq[(String, Long, Long)]): String =
    s"""WITH ${segCtes(model)},
       |wfreq AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(fw) AS w FROM fwt) GROUP BY w)
       |SELECT CAST(sum(wfreq.freq * g.nk) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN g.path IN ('[UNK]', '[LONG]')
       |    THEN wfreq.freq ELSE 0 END) AS BIGINT) AS unk_words
       |FROM wfreq JOIN seg g USING (w)""".stripMargin

  private[llm] def encodeSql(model: Seq[(String, Long, Long)]): String =
    s"""WITH ${segCtes(model)},
       |wp AS (SELECT doc_id, unnest(fw) AS w, unnest(range(len(fw))) AS pos FROM fwt),
       |agg AS (
       |  SELECT wp.doc_id,
       |    string_agg(g.path, ' ' ORDER BY wp.pos) AS stream,
       |    CAST(sum(g.nk) AS BIGINT) AS n_tokens,
       |    CAST(sum(g.cost) AS BIGINT) AS cost_e9
       |  FROM wp JOIN seg g USING (w) GROUP BY wp.doc_id)
       |SELECT src.doc_id,
       |  coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.cost_e9, 0) AS cost_e9,
       |  md5(coalesce(a.stream, '')) AS h
       |FROM src LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The live quantized model for `dir` if this JVM trained it. */
  private[llm] def liveModelFor(dir: String): Option[Seq[(String, Long, Long)]] = {
    modelCache.live.filter(_._1 == dir) match {
      case (_, model) :: Nil => Some(model)
      case _        => None
    }
  }

  def oracleSql: Map[String, String] = {
    // dir-keyed lookup (round-17 ADVICE) — see QualityModel.qmsOracle
    val dynamic = graft.Engine.lastFixtureDir.flatMap(liveModelFor) match {
      case Some(m) => Map("unigram_encode" -> encodeSql(m),
        "unigram_train_em" -> emSql(m))
      case None    => Map.empty[String, String]
    }
    dynamic + ("unigram_train" -> trainSql)
  }
}

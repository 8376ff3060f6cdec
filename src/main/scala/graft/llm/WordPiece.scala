package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Distributed WordPiece tokenizer training + greedy encode (round 17 —
  * the OTHER tokenizer every model release ships, next to
  * [[Bpe]]): the BERT-family likelihood-scored merge loop (Schuster &
  * Nakajima 2012; Devlin et al. 2019 §4.1 describe the vocabulary;
  * Song et al. 2021 the linear greedy matcher). Identical distributed
  * shape to [[Bpe.train]] — corpus collapses to the word-frequency
  * table once, then k iterations of ONE map-side-combinable pair
  * aggregation each — but the argmax objective is the LIKELIHOOD gain
  * score cnt(ab)/(cnt(a)·cnt(b)) instead of raw pair count.
  *
  * EXACT-INTEGER score contract (the round-16 dump-form discipline
  * applied to a training objective): the score on the compare path is
  * defined as score_e18 = ⌊cnt·10¹⁸ / (ca·cb)⌋ — BigInt on the local
  * path, DECIMAL(38,0) multiply + integral `div` on the distributed
  * path, HUGEINT `//` in the DuckDB replay — three implementations of
  * the SAME integer, so the argmax sequence is engine-independent by
  * construction (ties broken (score DESC, cnt DESC, a, b) with
  * byte-lexicographic string order, the [[Bpe.utf8Order]] contract).
  * cnt ≤ min(ca, cb) bounds score_e18 ≤ 10¹⁸ < 2⁶³, and
  * cnt·10¹⁸ ≤ ~10³¹ sits inside both DECIMAL(38,0) and HUGEINT at
  * 100 TB corpus masses (cnt ≤ ~10¹³).
  *
  * Symbols are TAGGED strings — '0'+material (word-initial) /
  * '1'+material (continuation) — NOT the conventional '##' prefix,
  * which cannot be parsed back unambiguously when the corpus itself
  * contains '#' (this fixture does). Merging (a, b) concatenates a's
  * tagged form with b's material, so a merged piece keeps its
  * position class. The '##' rendering is applied only at the output
  * boundary (display columns, encode token streams).
  */
object WordPiece {

  final case class Merge(rank: Int, leftT: String, rightT: String,
      pair_count: Long, score_e18: Long) {
    def mergedT: String = leftT + rightT.substring(1)
  }

  /** Display form of a tagged symbol ('1x' → '##x', '0x' → 'x'). */
  private[llm] def display(tagged: String): String =
    (if (tagged.charAt(0) == '1') "##" else "") + tagged.substring(1)

  /** Number of trained merges for the board ids (matches [[Bpe]]). */
  val K = 16

  /** Word-frequency table → (sym: array<string> tagged, freq: long). */
  private def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(
        zip_with(split(col("w"), ""), sequence(lit(1), length(col("w"))),
          (c, i) => concat(when(i === 1, "0").otherwise("1"), c)).as("sym"),
        col("freq"))

  /** score_e18 as a Column over BIGINT (cnt, ca, cb) — DECIMAL(38,0)
    * multiply keeps cnt·10¹⁸ exact, integral `div` floors back to LONG.
    */
  private def scoreE18(cnt: Column, ca: Column, cb: Column): Column =
    call_function("div",
      cnt.cast("decimal(38,0)") *
        lit(java.math.BigDecimal.valueOf(1000000000000000000L)).cast("decimal(19,0)"),
      ca.cast("decimal(38,0)") * cb.cast("decimal(38,0)"))

  def train(docs: DataFrame, k: Int = K, minPairCount: Long = 2,
      maxLocalVocab: Long = 1L << 16): Seq[Merge] = {
    val words = wordTable(docs).persist()
    val n = words.count()
    val out =
      if (n <= maxLocalVocab) {
        val tbl = words.collect().map(r =>
          (r.getSeq[String](0).toArray, r.getLong(1)))
        trainLocal(tbl, k, minPairCount)
      } else trainDistributed(words, k, minPairCount)
    words.unpersist()
    out
  }

  /** In-memory loop over the collected word table (the [[Bpe.train]]
    * bounded-collect contract: ≤ maxLocalVocab rows). BigInt score —
    * the reference arithmetic the other two paths must equal.
    */
  private[llm] def trainLocal(table: Array[(Array[String], Long)], k: Int,
      minPairCount: Long): Seq[Merge] = {
    val E18 = BigInt(10).pow(18)
    var words = table
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < k && !done) {
      val pair = scala.collection.mutable.Map.empty[(String, String), Long]
      val unit = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (sym, f) =>
        var i = 0
        while (i < sym.length) {
          unit(sym(i)) = unit.getOrElse(sym(i), 0L) + f
          if (i < sym.length - 1) {
            val p = (sym(i), sym(i + 1))
            pair(p) = pair.getOrElse(p, 0L) + f
          }
          i += 1
        }
      }
      val scored = pair.iterator.collect {
        case ((a, b), c) if c >= minPairCount =>
          val s = (BigInt(c) * E18 / (BigInt(unit(a)) * BigInt(unit(b)))).toLong
          ((a, b), c, s)
      }.toSeq
      val best =
        if (scored.isEmpty) None
        else Some(scored.minBy { case ((a, b), c, s) => (-s, -c, a, b) }(
          Ordering.Tuple4(Ordering.Long, Ordering.Long, Bpe.utf8Order, Bpe.utf8Order)))
      best match {
        case Some(((a, b), c, s)) =>
          val m = Merge(rank, a, b, c, s)
          out += m
          words = words.map { case (sym, f) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            sym.foreach { x =>
              if (acc.nonEmpty && acc.last == a && x == b) acc(acc.size - 1) = m.mergedT
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

  /** Fully-distributed loop — one pair agg + one unit agg + one top-1
    * per iteration; re-segmentation is [[Bpe.mergePair]]'s fold with
    * the tag-stripping concatenation.
    */
  private[llm] def trainDistributed(table: DataFrame, k: Int,
      minPairCount: Long): Seq[Merge] = {
    var words = table.persist()
    words.count()
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    var rank = 0
    while (rank < k && !done) {
      val units = words
        .select(explode(col("sym")).as("s"), col("freq"))
        .groupBy("s").agg(sum("freq").as("ucnt"))
      val top = words
        .select(col("freq"),
          explode(zip_with(col("sym"), slice(col("sym"), lit(2), size(col("sym"))),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .filter(col("p.b").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .filter(col("cnt") >= minPairCount)
        .join(units.select(col("s").as("a"), col("ucnt").as("ca")), "a")
        .join(units.select(col("s").as("b"), col("ucnt").as("cb")), "b")
        .withColumn("score", scoreE18(col("cnt"), col("ca"), col("cb")))
        .orderBy(col("score").desc, col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"))
        val m = Merge(rank, a, b, top(0).getAs[Long]("cnt"), top(0).getAs[Long]("score"))
        out += m
        val next = words
          .select(mergeTagged(col("sym"), m).as("sym"), col("freq"))
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

  /** [[Bpe.mergePair]]'s greedy fold, producing the tag-stripped
    * concatenation as the merged symbol.
    */
  private def mergeTagged(sym: Column, m: Merge): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, x) =>
        when(try_element_at(acc, lit(-1)) === lit(m.leftT) && x === lit(m.rightT),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(m.mergedT))))
          .otherwise(concat(acc, array(x))))

  /** Final tagged vocab: every symbol the raw corpus emits (initial +
    * continuation chars) plus the merged pieces, byte-ordered for a
    * deterministic literal.
    */
  def vocabOf(docs: DataFrame, merges: Seq[Merge]): Seq[String] = {
    val base = wordTable(docs)
      .select(explode(col("sym")).as("s")).distinct()
      .collect().map(_.getString(0)) // bounded: ≤ 2·|alphabet| rows
    (base ++ merges.map(_.mergedT)).distinct.sorted(Bpe.utf8Order)
  }

  /** Corpus encode via the distinct-word segmentation cache (the
    * [[Bpe.encodeDocs]] shape) — the greedy matcher runs ONCE per
    * distinct word as a native [[graft.functions.WordPieceEncode]]
    * eval with the tagged vocab riding as a literal; occurrences map
    * through a key join and one order-restoring aggregation.
    */
  def encodeDocs(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    graft.functions.WordPieceEncode.ensureRegistered(docs.sparkSession)
    val vlit = typedLit(vocab)
    val spreadDocs = graft.Engine.spread(docs, "doc_id")
    val words = spreadDocs
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => length(w) > 0))
          .as(Seq("pos", "w")))
    val cache = words.select("w").distinct()
      .select(col("w"),
        graft.functions.WordPieceEncode
          .wordpiece_encode_word(col("w"), vlit).as("toks"))
    val encoded = words.join(cache, "w")
      .groupBy("doc_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("toks")))),
        x => x.getField("toks"))).as("wp"))
    spreadDocs.select("doc_id").join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("wp"), array().cast("array<string>")).as("wp"))
  }

  /** Per-doc encode DIGESTS (doc_id, n_tokens, n_unk, h) without ever
    * materializing the per-doc token ARRAY — the [[Bpe.encodeDigests]]
    * idiom (r19): `wordpiece_encode` only reads size(wp), the [UNK]
    * count and md5(array_join(wp, " ")), all per-WORD functions of the
    * greedy segmentation, so they are evaluated once per distinct word
    * and the per-doc aggregation sums longs and concatenates compact
    * pre-joined strings. Identical values by construction: every
    * non-empty word emits ≥ 1 token ([UNK] if unmatched), so joining
    * per-word token strings with " " equals array_join of the
    * flattened stream, and empty docs restore to (0, 0, md5("")).
    */
  def encodeDigests(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    graft.functions.WordPieceEncode.ensureRegistered(docs.sparkSession)
    val vlit = typedLit(vocab)
    val spreadDocs = graft.Engine.spread(docs, "doc_id")
    val words = spreadDocs
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => length(w) > 0))
          .as(Seq("pos", "w")))
    // the native eval is STAGED before the three digest projections
    // reference it (the Bpe.encodeDigests/CollapseProject discipline)
    val cache = words.select("w").distinct()
      .withColumn("__toks",
        graft.functions.WordPieceEncode.wordpiece_encode_word(col("w"), vlit))
      .select(col("w"),
        size(col("__toks")).cast("long").as("__nt"),
        size(filter(col("__toks"), t => t === lit("[UNK]")))
          .cast("long").as("__nu"),
        array_join(col("__toks"), " ").as("__ts"))
    val encoded = words.join(cache, "w")
      .groupBy("doc_id")
      .agg(sum(col("__nt")).as("n_tokens"),
        sum(col("__nu")).as("n_unk"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__ts")))),
          x => x.getField("__ts")), " ")).as("h"))
    spreadDocs.select("doc_id").join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"),
        coalesce(col("h"), md5(lit(""))).as("h"))
  }

  /** Trained model memoized per (session, dir) — the [[Bpe.trainedMerges]]
    * contract. Holds merges AND the tagged vocab (vocabOf's base-symbol
    * collect runs once with it).
    */
  private val modelCache = Memo.slot[String, (Seq[Merge], Seq[String])]("WordPiece.modelCache")

  def trainedModel(s: SparkSession, dir: String): (Seq[Merge], Seq[String]) = {
    modelCache(s, dir) {
      val docs = Tables(s, dir).documents
      val ms = train(docs, K)
      (ms, vocabOf(docs, ms))
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the trained merge table itself — rank order IS training order;
    // every column integer/string exact (score_e18 per the contract
    // above), display forms at the boundary
    "wordpiece_train" -> ((s, dir) => {
      val (ms, _) = trainedModel(s, dir)
      val rows = ms.map(m => (m.rank.toLong, display(m.leftT),
        display(m.rightT), display(m.leftT) + display(m.rightT).stripPrefix("##"),
        m.pair_count, m.score_e18))
      import s.implicits._
      rows.toDF("rank", "left", "right", "merged", "pair_count", "score_e18")
        .orderBy("rank")
    }),

    // greedy longest-match corpus encode with the trained vocab: per
    // doc, token count, [UNK] count, md5 of the display token stream
    "wordpiece_encode" -> ((s, dir) => {
      val (_, vocab) = trainedModel(s, dir)
      // r19: digest view — see [[encodeDigests]]
      encodeDigests(Tables(s, dir).documents, vocab)
        .select(col("doc_id"), col("n_tokens"), col("n_unk"), col("h"))
        .orderBy("doc_id")
    })
  )

  // --- DuckDB oracles --------------------------------------------------

  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  /** STATIC oracle for `wordpiece_train` — the [[Bpe]] mergesSql idiom
    * (16 unrolled MATERIALIZED stages, double-separator replace
    * re-segmentation) extended with a per-stage UNIT-count CTE and the
    * HUGEINT score argmax. Embeds NOTHING — training replays from the
    * raw corpus. A corpus that early-stops before 16 merges would FAIL
    * the differential loudly, never wrongly pass.
    */
  private lazy val trainSql: String = {
    val sep = "chr(31)"
    val sep2 = "chr(31) || chr(31)"
    val stages = (0 until K).map { r =>
      s"""t$r AS MATERIALIZED (
         |  SELECT list_filter(string_split(sym, $sep2), x -> x <> '') AS t, freq FROM w$r),
         |u$r AS MATERIALIZED (
         |  SELECT s, CAST(sum(freq) AS HUGEINT) AS ucnt
         |  FROM (SELECT unnest(t) AS s, freq FROM t$r) GROUP BY s),
         |p$r AS MATERIALIZED (
         |  SELECT string_split(pr, chr(30))[1] AS a, string_split(pr, chr(30))[2] AS b,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || chr(30) || t[i+1])) AS pr, freq
         |    FROM t$r)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT p.a, p.b, p.cnt,
         |    CAST(CAST(p.cnt AS HUGEINT) * 1000000000000000000 // (ua.ucnt * ub.ucnt) AS BIGINT) AS score
         |  FROM p$r p JOIN u$r ua ON ua.s = p.a JOIN u$r ub ON ub.s = p.b
         |  WHERE p.cnt >= 2
         |  ORDER BY score DESC, p.cnt DESC, p.a, p.b LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT replace(w$r.sym, $sep || b$r.a || $sep2 || b$r.b || $sep,
         |                 $sep || b$r.a || substring(b$r.b, 2) || $sep) AS sym, w$r.freq
         |  FROM w$r CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    val union = (0 until K).map { r =>
      s"""SELECT $r AS rank, a, b, cnt, score FROM b$r"""
    }.mkString("\n  UNION ALL ")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT $sep2 || array_to_string(
       |      list_transform(range(1, len(w) + 1),
       |        i -> (CASE WHEN i = 1 THEN '0' ELSE '1' END) || w[i]),
       |      $sep2) || $sep2 AS sym,
       |    freq
       |  FROM (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w
       |    FROM documents) GROUP BY w)),
       |$stages
       |SELECT CAST(rank AS BIGINT) AS rank,
       |  CASE WHEN a LIKE '1%' THEN '##' || a[2:] ELSE a[2:] END AS "left",
       |  CASE WHEN b LIKE '1%' THEN '##' || b[2:] ELSE b[2:] END AS "right",
       |  (CASE WHEN a LIKE '1%' THEN '##' || a[2:] ELSE a[2:] END) || b[2:] AS merged,
       |  cnt AS pair_count, score AS score_e18
       |FROM ($union)
       |ORDER BY rank""".stripMargin
  }

  /** Dynamic oracle for `wordpiece_encode` (the merge-embedding
    * graduation path): the tagged vocab rides as VALUES literals; the
    * greedy rule replays as a precomputed longest-match `best` table +
    * a recursive single-successor walk (linear, aggregation-free —
    * greedy has exactly one successor per position), then the
    * [[Bpe]] encodeCtes order-restoring flatten.
    */
  private def segCtes(vocab: Seq[String]): String = {
    val rows = vocab.map(p => s"(${sqlStr(p)})").mkString(", ")
    s"""vocab(p) AS (SELECT * FROM (VALUES $rows) v(p)),
       |src AS (SELECT doc_id, text FROM documents),
       |fwt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS fw
       |  FROM src),
       |vwords AS (SELECT DISTINCT unnest(fw) AS w FROM fwt),
       |pos_all AS (SELECT w, unnest(range(0, len(w))) AS pos FROM vwords),
       |best AS (
       |  SELECT w, pos,
       |    (SELECT substring(v.p, 2) FROM vocab v
       |      WHERE substring(v.p, 1, 1) = CASE WHEN pos = 0 THEN '0' ELSE '1' END
       |        AND substring(w, CAST(pos AS INTEGER) + 1, len(v.p) - 1) = substring(v.p, 2)
       |      ORDER BY len(v.p) DESC, v.p LIMIT 1) AS material
       |  FROM pos_all),
       |walk(w, pos, i, piece, failed) AS (
       |  SELECT w, 0, 0, CAST(NULL AS VARCHAR), false FROM vwords
       |  UNION ALL
       |  SELECT k.w, k.pos + len(b.material), k.i + 1,
       |    CASE WHEN k.pos = 0 THEN b.material ELSE '##' || b.material END,
       |    b.material IS NULL
       |  FROM walk k JOIN best b ON b.w = k.w AND b.pos = k.pos
       |  WHERE NOT k.failed AND k.pos < len(k.w)),
       |seg AS (
       |  SELECT w, CASE WHEN bool_or(failed) THEN ['[UNK]']
       |      ELSE list(piece ORDER BY i) FILTER (piece IS NOT NULL) END AS toks
       |  FROM walk GROUP BY w)""".stripMargin
  }

  /** Corpus-total WordPiece tokens replayed ENTIRELY at word level (the
    * `tokenizer_compare`/`tokenizer_budget` fragment since round 18) —
    * Σ freq(w)·|toks(w)| over the distinct-word table plus the
    * freq-weighted [UNK]-word count (coverage); no per-doc token arrays
    * (see [[Bpe.totalTokensSql]] for the 25× memory rationale). A
    * '[UNK]' piece cannot be a REAL token (pieces are ≤4 cp), so the
    * list_contains probe is exact.
    */
  private[llm] def totalTokensSql(vocab: Seq[String]): String =
    s"""WITH RECURSIVE
       |${segCtes(vocab)},
       |wfreq AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(fw) AS w FROM fwt) GROUP BY w)
       |SELECT CAST(sum(wfreq.freq * len(s.toks)) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN list_contains(s.toks, '[UNK]')
       |    THEN wfreq.freq ELSE 0 END) AS BIGINT) AS unk_words
       |FROM wfreq JOIN seg s USING (w)""".stripMargin

  private[llm] def encodeSql(vocab: Seq[String]): String = {
    s"""WITH RECURSIVE
       |${segCtes(vocab)},
       |wp AS (SELECT doc_id, unnest(fw) AS w, unnest(range(len(fw))) AS pos FROM fwt),
       |agg AS (
       |  SELECT wp.doc_id, flatten(list(s.toks ORDER BY wp.pos)) AS flat
       |  FROM wp JOIN seg s USING (w) GROUP BY wp.doc_id),
       |doc_enc AS (
       |  SELECT src.doc_id, coalesce(a.flat, CAST([] AS VARCHAR[])) AS flat
       |  FROM src LEFT JOIN agg a USING (doc_id))
       |SELECT doc_id, CAST(len(flat) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(flat, t -> t = '[UNK]')) AS BIGINT) AS n_unk,
       |  md5(coalesce(array_to_string(flat, ' '), '')) AS h
       |FROM doc_enc ORDER BY doc_id""".stripMargin
  }

  /** The live (merges, tagged vocab) pair for `dir` if this JVM trained
    * it — `tokenizer_budget` reconstructs the half-budget vocab from
    * the merge ORDER, which the vocab alone doesn't carry. */
  private[llm] def liveFullFor(dir: String): Option[(Seq[Merge], Seq[String])] = {
    modelCache.live.filter(_._1 == dir) match {
      case (_, model) :: Nil => Some(model)
      case _        => None
    }
  }

  /** The live tagged vocab for `dir` if this JVM trained it. */
  private[llm] def liveVocabFor(dir: String): Option[Seq[String]] = {
    modelCache.live.filter(_._1 == dir) match {
      case (_, (_, vocab)) :: Nil => Some(vocab)
      case _        => None
    }
  }

  def oracleSql: Map[String, String] = {
    // dir-keyed lookup (round-17 ADVICE) — see QualityModel.qmsOracle
    val dynamic = graft.Engine.lastFixtureDir.flatMap(liveVocabFor) match {
      case Some(v) => Map("wordpiece_encode" -> encodeSql(v))
      case None    => Map.empty[String, String]
    }
    dynamic + ("wordpiece_train" -> trainSql)
  }
}

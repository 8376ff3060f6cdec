package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing the FULL Gopher repetition
  * battery (Rae et al. 2021 App. A) for one document in one pass —
  * the engine behind `text_repetition_full` (SURVEY.md §2.12).
  *
  * Input: the document's word array (`split(text, ' ')`). Output: one
  * struct of 11 per-unit-kind sub-structs `t0`..`t10` — `t0` = 3-word
  * pseudo-lines, `t1` = 10-word pseudo-paragraphs (the corpus has no
  * newlines; same chunk definition as the scrub family), `t2`..`t10`
  * = sliding n-grams for n = 2..10 — each carrying
  * `(total, n_distinct, top_chars, dup_chars)` over that kind's units,
  * where the char figures weigh each distinct unit by its character
  * length (`top_chars` = chars covered by the most frequent unit,
  * `dup_chars` = chars covered by units occurring ≥ 2×). A kind with
  * no units (doc shorter than n words) yields a NULL sub-struct, so
  * downstream fraction arithmetic propagates the paper's
  * missing-signal-passes semantics unchanged.
  *
  * Why an Expression and not the explode/groupBy form: the signals are
  * PURE per-document functions, but the declarative form must explode
  * ~9.4 rows per word and hash-aggregate a mostly-distinct
  * (doc, tag, gram) key — at 25× sf0.1 that exchange was measured at
  * 10–13 s (and 31 s in the round-14 driver suite) versus ~1 s for
  * this zero-shuffle scan; a 100 TB corpus never needs to shuffle its
  * n-gram multiset to learn per-doc duplication rates. Interpreted
  * HOF folds (`aggregate`/`transform`) were probed too and cost as
  * much as the shuffle (10.3 s vs 12.7 s at 25×, BASELINE.md "Round 15:
  * text_repetition_full") — per-element expression-tree eval is ~50×
  * this single `eval` walking primitive long arrays.
  *
  * Cross-engine contract (mirrored verbatim in the DuckDB oracle, the
  * `source_overlap` 56-bit idiom): a unit's identity is a base-31
  * polynomial over per-word 47-bit md5 prefixes —
  * `h(w) = int(md5_hex(w)[0:12], 16) % 2^47`, chained
  * `acc = (acc * 31 + h) % 2^47` over the unit's words (first word's
  * hash is the seed) — and its char length is
  * `min(Σ codepoints(w) + (words-1), 65535)` (the length of the
  * space-joined unit string, capped so it packs beside the 47-bit hash
  * in one sortable long). All intermediates stay under 2^52, so the
  * oracle's BIGINT arithmetic can reproduce them exactly; a hash
  * collision merges the same two units on both engines and cannot
  * diverge the compare.
  */
case class RepetitionSignals(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> (the word split), got ${other.simpleString}")
  }

  override def dataType: DataType = RepetitionSignals.outputType

  override def prettyName: String = "repetition_signals"

  override protected def withNewChildInternal(newChild: Expression): RepetitionSignals =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    RepetitionSignals.compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
}

object RepetitionSignals {

  /** Unit kinds: (tag, chunk width | 0) — 0 = sliding gram of size n. */
  private val kinds: IndexedSeq[(Int, Int, Int)] =
    IndexedSeq((0, 3, 0), (1, 10, 0)) ++ (2 to 10).map(n => (n, 0, n))

  private val sigType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))

  val outputType: StructType =
    StructType((0 to 10).map(t => StructField(s"t$t", sigType, nullable = true)))

  private val Mask47 = (1L << 47) - 1
  private val LenCap = 65535L

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 47-bit word hash: big-endian value of md5's first 6 bytes (= the
    * first 12 hex digits, as the oracle spells it) mod 2^47.
    */
  private def wordHash(w: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(w.getBytes)
    val h48 = ((d(0) & 0xFFL) << 40) | ((d(1) & 0xFFL) << 32) |
      ((d(2) & 0xFFL) << 24) | ((d(3) & 0xFFL) << 16) |
      ((d(4) & 0xFFL) << 8) | (d(5) & 0xFFL)
    h48 & Mask47
  }

  /** Run-length stats over the packed (hash<<16 | cappedLen) array —
    * sorts in place; the caller must pass a scratch copy.
    */
  private def runStats(packed: Array[Long]): GenericInternalRow = {
    java.util.Arrays.sort(packed)
    var nd = 0L; var top = 0L; var dup = 0L
    var i = 0
    val n = packed.length
    while (i < n) {
      val gh = packed(i) >>> 16
      var j = i + 1
      while (j < n && (packed(j) >>> 16) == gh) j += 1
      val cnt = (j - i).toLong
      // ascending sort puts the max capped length last in the run
      val glen = packed(j - 1) & 0xFFFF
      val chars = cnt * glen
      nd += 1
      if (chars > top) top = chars
      if (cnt >= 2) dup += chars
      i = j
    }
    new GenericInternalRow(Array[Any](n.toLong, nd, top, dup))
  }

  private[functions] def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val n = arr.numElements()
    val hws = new Array[Long](n)
    val lws = new Array[Long](n)
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i)
      if (w == null) { hws(i) = wordHash(UTF8String.EMPTY_UTF8); lws(i) = 0L }
      else { hws(i) = wordHash(w); lws(i) = w.numChars().toLong }
      i += 1
    }
    val out = new GenericInternalRow(kinds.length)
    kinds.foreach { case (tag, cw, gn) =>
      val packed: Array[Long] =
        if (cw > 0) {
          // stride chunks: ceil(n/cw) units, last may be short
          val units = (n + cw - 1) / cw
          val a = new Array[Long](units)
          var u = 0
          while (u < units) {
            val from = u * cw
            val to = math.min(from + cw, n)
            var acc = hws(from); var len = lws(from)
            var k = from + 1
            while (k < to) {
              acc = ((acc * 31) + hws(k)) & Mask47
              len += lws(k) + 1
              k += 1
            }
            a(u) = (acc << 16) | math.min(len, LenCap)
            u += 1
          }
          a
        } else if (n >= gn) {
          // sliding grams of size gn
          val units = n - gn + 1
          val a = new Array[Long](units)
          var s = 0
          while (s < units) {
            var acc = hws(s); var len = lws(s)
            var k = s + 1
            while (k < s + gn) {
              acc = ((acc * 31) + hws(k)) & Mask47
              len += lws(k) + 1
              k += 1
            }
            a(s) = (acc << 16) | math.min(len, LenCap)
            s += 1
          }
          a
        } else Array.emptyLongArray
      out.update(tag, if (packed.isEmpty) null else runStats(packed))
    }
    out
  }

  val functionName = "repetition_signals"

  private[functions] val info =
    new ExpressionInfo(classOf[RepetitionSignals].getName, functionName)

  private[functions] def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, s"$functionName expects 1 argument")
    RepetitionSignals(exprs.head)
  }

  def ensureRegistered(spark: SparkSession): Unit =
    Registration.ensure(spark, functionName, info, builder _)

  /** Column-API form (after ensureRegistered / extensions injection). */
  def repetition_signals(c: Column): Column = call_function(functionName, c)
}

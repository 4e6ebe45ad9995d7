package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.trim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** UNIGRAM-LM tokenizer APPLY — the inference half of a trained
  * unigram language-model tokenizer (Kudo 2018, "Subword
  * Regularization", §3 — the SentencePiece default), as a native
  * map-only expression beside the greedy [[SubwordTokenize]] and the
  * merge-order [[BpeMergeApply]]: the three apply disciplines real
  * tokenizer stacks ship. Input text pre-normalizes to
  * `lower(trim(...))` in the Column wrapper and splits on whitespace
  * exactly like [[graft.operators.TextOps.tokens]]; each word is then
  * segmented by VITERBI decoding — the piece sequence maximizing the
  * sum of the trained fixed-point log-probabilities.
  *
  * Determinism contract (the whole reason scores are fixed-point
  * BIGINTs, not floats): the decode argmax is the total order
  * `(score DESC, n_pieces ASC, seg-string ASC by UTF-8 bytes)`, which
  * the DP resolves exactly (score and piece count are additive; at a
  * full tie the candidates segment the same prefix with the same piece
  * count, hence have equal seg-string length, so lexicographic
  * comparison is stable under suffix append — the per-prefix optimum
  * extends to the global one). The DuckDB oracle replays the SAME
  * argmax by brute-force path enumeration + one window, so kernel and
  * oracle agree even on tied scores.
  *
  * Unknown codepoints (not in the vocabulary — impossible for text the
  * trainer saw, routine for tail corpus words) step as single
  * CODEPOINTS (never a bare surrogate — the [[SubwordTokenize]]
  * fallback discipline) at the model's `lpUnk` penalty; the unk step
  * exists ONLY where the single codepoint is out-of-vocabulary, so the
  * decode never prefers an unk over a trained piece of the same span.
  *
  * The vocabulary rides the plan as a reference object (the
  * [[SubwordMatcher]] discipline); per word the DP costs
  * O(len · maxPieceLen) hash probes. */
case class UnigramTokenize(child: Expression, vocab: UnigramVocab)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unigram_tokens expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    UnigramTokenizeRuntime.tokenize(
      input.asInstanceOf[UTF8String].toString, vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.addReferenceObj("uniVocab", vocab,
      classOf[UnigramVocab].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = graft.functions.UnigramTokenizeRuntime.tokenize(
         |  $in.toString(), $v);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramTokenize =
    copy(child = newChild)
}

/** The trained unigram vocabulary: piece → fixed-point log-prob
  * (·10⁴), the distinct piece CHAR lengths to probe, and the
  * out-of-vocabulary codepoint penalty. Plan-attached like
  * [[SubwordMatcher]]. */
final class UnigramVocab(pieces: Array[(String, Long)], val lpUnk: Long)
    extends Serializable {
  require(pieces.nonEmpty && pieces.forall(_._1.nonEmpty),
    "vocab must be non-empty pieces")
  val lp: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    pieces.foreach { case (t, p) => m.put(t, p) }
    m
  }
  val lengths: Array[Int] =
    pieces.map(_._1.length).distinct.sorted
}

object UnigramTokenizeRuntime {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Seg-string separator (U+0001): sorts below every printable
    * codepoint in both UTF-8 and UTF-16, so seg-string comparisons
    * agree between the kernel and the oracle's binary collation. */
  val Sep: Char = '\u0001'

  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Viterbi-decode one word under the trained vocabulary (see the
    * expression doc for the exact argmax). Returns the piece sequence
    * joined by U+0001 — the same seg-string the tie-break is defined
    * over. */
  def decodeWord(w: String, v: UnigramVocab): String = {
    val n = w.length
    val score = Array.fill(n + 1)(Long.MinValue)
    val np = new Array[Int](n + 1)
    val seg = new Array[String](n + 1)
    score(0) = 0L; np(0) = 0; seg(0) = ""
    def relax(j: Int, s: Long, k: Int, g: String): Unit =
      if (s > score(j) || (s == score(j) &&
          (k < np(j) || (k == np(j) && utf8Less(g, seg(j))))))
        { score(j) = s; np(j) = k; seg(j) = g }
    var i = 0
    while (i < n) {
      if (score(i) != Long.MinValue) {
        val pre = if (seg(i).isEmpty) "" else seg(i) + Sep
        var li = 0
        while (li < v.lengths.length) {
          val L = v.lengths(li)
          if (i + L <= n) {
            val piece = w.substring(i, i + L)
            val p = v.lp.get(piece)
            if (p != null) relax(i + L, score(i) + p, np(i) + 1, pre + piece)
          }
          li += 1
        }
        val cpLen = Character.charCount(w.codePointAt(i))
        val cp = w.substring(i, i + cpLen)
        if (!v.lp.containsKey(cp))
          relax(i + cpLen, score(i) + v.lpUnk, np(i) + 1, pre + cp)
      }
      i += 1
    }
    seg(n)
  }

  /** Viterbi walk over one pre-normalized text: whitespace words in
    * order, each decoded independently. Shared by the interpreted and
    * codegen paths. */
  def tokenize(text: String, v: UnigramVocab): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val words = Ws.split(text, -1)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val s = decodeWord(w, v)
        var start = 0
        var i = 0
        while (i <= s.length) {
          if (i == s.length || s.charAt(i) == Sep) {
            out += UTF8String.fromString(s.substring(start, i))
            start = i + 1
          }
          i += 1
        }
      }
      wi += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

object UnigramTokenize {
  /** Column API: the unigram-LM tokens of a text column under a trained
    * vocabulary — normalization (`lower`/`trim`) applied here so the
    * decode sees exactly what [[graft.operators.TextOps.tokens]]
    * splits. */
  def unigram_tokens(c: Column, vocab: UnigramVocab): Column =
    GraftShims.column(UnigramTokenize(
      GraftShims.expression(LowerText.lower_text(trim(c))), vocab))
}

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

/** Frozen subword tokenizer APPLY — the inference half of a trained
  * BPE/WordPiece tokenizer, as one native map-only expression: the input
  * text (pre-normalized to `lower(trim(...))` by the Column wrapper)
  * splits on whitespace exactly like
  * [[graft.operators.TextOps.tokens]], and each word is consumed by
  * GREEDY LONGEST-MATCH against the frozen vocabulary — at every
  * position the longest vocab entry prefixing the remainder is emitted,
  * falling back to a single CODEPOINT when nothing matches (the
  * byte/char-fallback every real tokenizer ships so no input is
  * un-tokenizable). Deterministic with no tie ambiguity (longest match
  * is unique by length), so the DuckDB oracle replays the walk exactly
  * as a recursive CTE whose per-step longest-prefix CASE is generated
  * from the SAME vocab literal.
  *
  * The CODEPOINT fallback (never a UTF-16 code unit) is what keeps the
  * two engines aligned on multi-byte text: DuckDB's `substring` counts
  * Unicode code points, so a surrogate pair (e.g. U+1D11E) must come
  * out as ONE fallback token, not two broken halves — OperatorSpec pins
  * exactly that boundary. Vocab entries match by string prefix at the
  * current position, which is codepoint-safe for any well-formed vocab
  * (a match never ends inside a surrogate pair unless the vocab entry
  * itself does).
  *
  * The vocab rides the plan as a reference object (the
  * [[NearestCentroid]] discipline — a broadcast-sized model artifact
  * attached to a codegen-friendly kernel); per-position matching probes
  * a per-length hash set from the longest entry down, so cost is
  * O(maxLen) probes per emitted token regardless of vocab size.
  */
case class SubwordTokenize(child: Expression, vocab: Array[String])
    extends UnaryExpression {

  require(vocab.nonEmpty && vocab.forall(_.nonEmpty),
    "vocab must be non-empty strings")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"subword_tokenize expects string, got ${t.simpleString}")
  }

  @transient private lazy val matcher = new SubwordMatcher(vocab)

  override def nullSafeEval(input: Any): Any =
    SubwordTokenizeRuntime.tokenize(
      input.asInstanceOf[UTF8String].toString, matcher)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("swMatcher", matcher,
      classOf[SubwordMatcher].getName)
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.SubwordTokenizeRuntime.tokenize(
         |  $v.toString(), $m);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SubwordTokenize =
    copy(child = newChild)
}

/** The frozen-vocab matcher: entries bucketed by CHAR length (UTF-16
  * units — prefix matching is done on the Java string, which is safe
  * because a vocab entry either matches those exact units or not), with
  * `lengths` the distinct entry lengths descending. Serializable: rides
  * the plan as a reference object. */
final class SubwordMatcher(vocab: Array[String]) extends Serializable {
  val byLen: Map[Int, Set[String]] = vocab.toSet.groupBy((s: String) => s.length)
  val lengths: Array[Int] = byLen.keys.toArray.sortBy(-(_: Int))
}

object SubwordTokenizeRuntime {
  // precompiled: String.split(regex) recompiles the pattern per call,
  // a per-row tax on this hot path
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Greedy longest-match walk over one pre-normalized text: whitespace
    * words in order, each consumed left-to-right. Shared verbatim by the
    * interpreted and codegen paths. */
  def tokenize(text: String, m: SubwordMatcher): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val words = Ws.split(text, -1)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      var pos = 0
      while (pos < w.length) {
        var emitted = -1
        var li = 0
        while (emitted < 0 && li < m.lengths.length) {
          val L = m.lengths(li)
          if (pos + L <= w.length && m.byLen(L).contains(w.substring(pos, pos + L)))
            emitted = L
          li += 1
        }
        if (emitted < 0) {
          // single-CODEPOINT fallback: never split a surrogate pair
          emitted = Character.charCount(w.codePointAt(pos))
        }
        out += UTF8String.fromString(w.substring(pos, pos + emitted))
        pos += emitted
      }
      wi += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** Merge-order walk over one pre-normalized text: each whitespace word
    * starts as its codepoint segmentation (never splitting a surrogate
    * pair — the [[tokenize]] fallback discipline), then every learned
    * merge fires in training order, left-to-right non-overlapping —
    * exactly the trainer's application loop, so train → apply round-trips
    * bit-identically. Shared by the interpreted and codegen paths. */
  def applyMerges(text: String, t: BpeMergeTable): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val words = Ws.split(text, -1)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var syms = {
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var pos = 0
          while (pos < w.length) {
            val n = Character.charCount(w.codePointAt(pos))
            b += w.substring(pos, pos + n)
            pos += n
          }
          b
        }
        var mi = 0
        while (mi < t.pairs.length) {
          val l = t.pairs(mi)(0); val r = t.pairs(mi)(1)
          val next = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              next += l + r; i += 2
            } else { next += syms(i); i += 1 }
          }
          syms = next
          mi += 1
        }
        syms.foreach(s => out += UTF8String.fromString(s))
      }
      wi += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

object SubwordTokenize {
  /** Column API: the subword tokens of a text column under a frozen
    * vocab — normalization (`lower`/`trim`) applied here so the walk
    * sees exactly what [[graft.operators.TextOps.tokens]] splits. */
  def subword_tokens(c: Column, vocab: Seq[String]): Column =
    GraftShims.column(SubwordTokenize(
      GraftShims.expression(LowerText.lower_text(trim(c))), vocab.toArray))

  /** Column API for the MERGE-ORDER apply ([[BpeMergeApply]]): same
    * normalization and word split, tokens produced by replaying the
    * learned merge table in training order. */
  def subword_tokens_merge_order(c: Column,
      merges: Seq[(String, String)]): Column =
    GraftShims.column(BpeMergeApply(
      GraftShims.expression(LowerText.lower_text(trim(c))),
      merges.map(p => Array(p._1, p._2)).toArray))
}

/** MERGE-ORDER subword apply — the ORIGINAL BPE inference (Sennrich et
  * al. 2016 §3.2: replay the learned merge table in training order over
  * each word's codepoint segmentation), as a second native map-only
  * expression beside the greedy longest-match [[SubwordTokenize]]. The
  * two apply disciplines AGREE on most words but are NOT the same
  * function — e.g. merges [(b,c), (a,b)] segment "abc" as `a·bc`
  * (rank 1 fires first) where greedy longest-match over the same
  * vocabulary picks `ab·c` — and real tokenizer stacks ship both
  * (SentencePiece BPE replays merges; WordPiece inference is greedy),
  * so the engine gates both (q140 greedy on the learned vocab, q158
  * merge-order on the learned table). Merges ride the plan as a
  * reference object; per word the cost is O(nMerges · len) scans, all
  * integer/array work, no regex beyond the shared whitespace split. */
case class BpeMergeApply(child: Expression, merges: Array[Array[String]])
    extends UnaryExpression {

  require(merges.forall(m => m.length == 2 && m.forall(_.nonEmpty)),
    "merges must be (left, right) non-empty pairs")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"subword_tokens_merge_order expects string, got ${t.simpleString}")
  }

  @transient private lazy val table = new BpeMergeTable(merges)

  override def nullSafeEval(input: Any): Any =
    SubwordTokenizeRuntime.applyMerges(
      input.asInstanceOf[UTF8String].toString, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeMerges", table,
      classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.SubwordTokenizeRuntime.applyMerges(
         |  $v.toString(), $t);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeApply =
    copy(child = newChild)
}

/** The learned merge table in training order, plan-attached like
  * [[SubwordMatcher]]. */
final class BpeMergeTable(val pairs: Array[Array[String]])
    extends Serializable

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernel of [[AlphabetRender]] — the alphabet-slice plant
  * device (q173's CJK rendering, the q226 langid plant's zh/ru legs):
  * every whitespace token of the lowercased text replaced by ONE
  * alphabet character selected by the token's seeded portable hash,
  * joined with `sep`. Exactly
  *
  *   array_join(transform(tokens(text), w => substr(alphabet,
  *     pmod(portableHash(w, seed), |alphabet|) + 1, 1)), sep)
  *
  * — but in one per-row pass. The HOF formulation evaluates its lambda
  * INTERPRETED per token (higher-order functions are CodegenFallback),
  * which at one md5 per word made the render the hottest stage of q173
  * and q226 and allocation-heavy enough to wobble under co-tenant GC.
  * Tokenization is `TextOps.tokens` itself ([[TextKernel.words]]); the
  * alphabet is BMP-only by construction (CJK unified / Cyrillic slices),
  * so `charAt` is the `substr` codepoint. Equality with the HOF formulation is asserted in
  * FunctionsSpec. */
object AlphabetRenderKernel extends Serializable {
  def apply(s: UTF8String, alphabet: String, seed: Int,
      sep: String, icu: Boolean): UTF8String = {
    val toks = TextKernel.words(s, icu)
    val n = alphabet.length
    val sb = new java.lang.StringBuilder(toks.length * (1 + sep.length))
    var i = 0
    while (i < toks.length) {
      if (i > 0) sb.append(sep)
      val h = PortableHashKernel.hash60(
        UTF8String.fromString(seed + ":" + toks(i)))
      // h is a non-negative 60-bit value, so % IS pmod here
      sb.append(alphabet.charAt((h % n).toInt))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Native Catalyst expression over [[AlphabetRenderKernel]]; alphabet,
  * seed and separator ride the plan as literals (plant parameters). */
case class AlphabetRender(child: Expression, alphabet: String, seed: Int,
    sep: String) extends UnaryExpression with CaseMapping {

  require(alphabet.nonEmpty, "empty alphabet")

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"alphabet_render expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    AlphabetRenderKernel(input.asInstanceOf[UTF8String], alphabet, seed, sep, icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val kernel = ctx.addReferenceObj("alphabetRenderKernel",
        AlphabetRenderKernel, "graft.functions.AlphabetRenderKernel$")
      val alpha = ctx.addReferenceObj("alphabet", alphabet, "java.lang.String")
      val sp = ctx.addReferenceObj("sep", sep, "java.lang.String")
      s"${ev.value} = $kernel.apply($c, $alpha, $seed, $sp, $icu);"
    })

  override protected def withNewChildInternal(newChild: Expression): AlphabetRender =
    copy(child = newChild)
}

object AlphabetRender {
  /** Column API. */
  def alphabet_render(c: Column, alphabet: String, seed: Int,
      sep: String): Column =
    GraftShims.column(AlphabetRender(GraftShims.expression(c), alphabet,
      seed, sep))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernel of [[CharGramLogit]] — the CODEPOINT-BIGRAM twin of
  * [[PocketLogitKernel]], for classifiers whose signal lives below the
  * word level (language-ID: CJK has no whitespace for word features to
  * see). Mirrors the executable-spec HOF form
  * (`TextOps.charGramLogitHof`) bit for bit: the text is
  * space-padded (`' ' + lower(trim(s)) + ' '` — word boundaries become
  * visible bigrams and one-char texts still yield a gram), grams are
  * CONSECUTIVE CODEPOINT pairs (Spark `substring`/`length` and DuckDB
  * both count codepoints, so the SQL replay is exact beyond the BMP),
  * each gram's 60-bit portable hash buckets mod `dims`, features are
  * the milli-fraction floors, and the logit is the exact BIGINT dot
  * plus length and bias terms — the [[PocketWeights]] layout
  * unchanged. */
object CharGramLogitKernel extends Serializable {
  def compute(s: UTF8String, m: PocketWeights, icu: Boolean): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val t = " " + TextKernel.lower(s, icu).trim.toString + " "
    val cps = t.codePoints().toArray
    val n = (cps.length - 1).toLong // padded: always >= 1 gram
    val cnt = new Array[Long](m.dims)
    var i = 0
    while (i < cps.length - 1) {
      val gram = new String(cps, i, 2)
      val h = SimHashKernel.hash60(md, m.seed + ":" + gram)
      cnt((h % m.dims).toInt) += 1
      i += 1
    }
    var dot = 0L
    var j = 0
    while (j < m.dims) { dot += m.w(j) * ((1000L * cnt(j)) / n); j += 1 }
    dot + m.w(m.dims) * (n * 10L) + m.w(m.dims + 1) * 1000L
  }
}

/** Native, codegen'd codepoint-bigram classifier logit — the 100 TB
  * apply-path kernel behind `TextOps.charGramLogit` (the q240/q226
  * learned language-ID): one map-only expression, microseconds per
  * row; the HOF form (`TextOps.charGramLogitHof`, pinned bit-identical
  * in OperatorSpec) evaluates interpreted — the [[PocketLogit]]
  * kernel/spec twin discipline. */
case class CharGramLogit(child: Expression, model: PocketWeights)
    extends UnaryExpression with CaseMapping {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_gram_logit expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    CharGramLogitKernel.compute(input.asInstanceOf[UTF8String], model, icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("charGramWeights", model,
      classOf[PocketWeights].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = graft.functions.CharGramLogitKernel.compute($in, $m, $icu);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramLogit =
    copy(child = newChild)
}

object CharGramLogit {
  /** Column API: the learned char-bigram classifier's exact BIGINT
    * logit of a text column. */
  def char_gram_logit(c: Column, model: PocketWeights): Column =
    GraftShims.column(CharGramLogit(GraftShims.expression(c), model))
}

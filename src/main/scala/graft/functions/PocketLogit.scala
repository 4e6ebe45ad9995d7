package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The learned hashed-feature classifier's weight vector as a
  * plan-attached reference object (the [[UnigramVocab]] discipline):
  * `w(0..dims−1)` bucket weights, `w(dims)` the length weight,
  * `w(dims+1)` the absorbed bias. */
final class PocketWeights(val w: Array[Long], val dims: Int, val seed: Int)
    extends Serializable {
  require(dims >= 1, s"dims must be >= 1, got $dims")
  require(w.length == dims + 2,
    s"weights must have dims + 2 = ${dims + 2} entries, got ${w.length}")
}

/** Per-row kernel of [[PocketLogit]] — one object shared by the
  * interpreted and codegen paths. Mirrors the executable-spec HOF form
  * (`TextOps.pocketLogitHof`) bit for bit: whitespace tokens of
  * `TextOps.tokens(text)` ([[TextKernel.words]]), each
  * token's 60-bit portable hash bucketed mod `dims`, milli-fraction
  * floor features `(1000·c_j) div n`, the exact BIGINT dot plus length
  * and bias terms. */
object PocketLogitKernel extends Serializable {
  def compute(s: UTF8String, m: PocketWeights, icu: Boolean): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = TextKernel.words(s, icu)
    val n = toks.length.toLong // split yields >= 1 element, n > 0 always
    val cnt = new Array[Long](m.dims)
    var i = 0
    while (i < toks.length) {
      val h = SimHashKernel.hash60(md, m.seed + ":" + toks(i))
      cnt((h % m.dims).toInt) += 1 // h >= 0 (60-bit), so % == pmod
      i += 1
    }
    var dot = 0L
    var j = 0
    while (j < m.dims) { dot += m.w(j) * ((1000L * cnt(j)) / n); j += 1 }
    dot + m.w(m.dims) * (n * 10L) + m.w(m.dims + 1) * 1000L
  }
}

/** Native, codegen'd learned-classifier logit — the 100 TB apply-path
  * kernel behind `TextOps.pocketLogit` (q111/q189): the hashed
  * feature-map dot as ONE map-only expression, microseconds per row,
  * where the equivalent higher-order-function form (kept as the
  * executable spec `TextOps.pocketLogitHof`, pinned bit-identical in
  * OperatorSpec) evaluates interpreted at ~3 ms/row — Spark's array
  * HOFs don't participate in whole-stage codegen, and apply is the one
  * path that scans the full corpus. */
case class PocketLogit(child: Expression, model: PocketWeights)
    extends UnaryExpression with CaseMapping {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pocket_logit expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    PocketLogitKernel.compute(input.asInstanceOf[UTF8String], model, icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pocketWeights", model,
      classOf[PocketWeights].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = graft.functions.PocketLogitKernel.compute($in, $m, $icu);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PocketLogit =
    copy(child = newChild)
}

object PocketLogit {
  /** Column API: the learned classifier's exact BIGINT logit of a text
    * column (normalization lives in the kernel, like [[SimHash32]]). */
  def pocket_logit(c: Column, model: PocketWeights): Column =
    GraftShims.column(PocketLogit(GraftShims.expression(c), model))
}

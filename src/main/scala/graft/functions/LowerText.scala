package graft.functions

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one lowercase and the one whitespace tokenizer of the engine: the
  * per-row kernels of [[LowerText]] and [[WordTokens]], which every text
  * column and every native text kernel in this package call.
  *
  *  - `lower` computes exactly what Spark 4.1's `lower` computes on a
  *    UTF8_BINARY string: with `spark.sql.icu.caseMappings.enabled` (the
  *    default) ASCII input goes through `toLowerCaseAscii` and anything
  *    else through ICU's `UCharacter.toLowerCase` of the valid string;
  *    with it off, `UTF8String.toLowerCase` (the `java.lang.String`
  *    tables). Spark reaches the ICU branch through
  *    `CollationAwareUTF8String`, whose static initializer title-cases
  *    all 1,114,112 code points the first time a JVM lowercases anything,
  *    ASCII included (about 1.2 s in a bare JVM); this kernel never loads
  *    that class.
  *  - `tokens` is `split(trim(lower(s)), "\\s+")`: trim strips `' '` only,
  *    and the split has Java's `split(…, -1)` semantics (a leading
  *    separator run yields a leading "", a trailing one a trailing "",
  *    and "" yields [""]). The lowercased string is valid UTF-8 and every
  *    `\s` character is one ASCII byte that never occurs inside a
  *    multi-byte sequence, so the split runs over the bytes, with no
  *    regex compiled per row. */
object TextKernel extends Serializable {

  def lower(s: UTF8String, icu: Boolean): UTF8String =
    if (!icu) s.toLowerCase
    else if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** Java regex `\s`: space, \t, \n, \u000B, \f, \r. */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  def tokens(s: UTF8String, icu: Boolean): Array[UTF8String] = {
    val b = lower(s, icu).trim().getBytes
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](8)
    var start = 0
    var i = 0
    while (i < b.length) {
      if (isSpace(b(i))) {
        out += UTF8String.fromBytes(b, start, i - start)
        while (i < b.length && isSpace(b(i))) i += 1
        start = i
      } else i += 1
    }
    out += UTF8String.fromBytes(b, start, b.length - start)
    out.toArray
  }

  /** [[tokens]] as Java strings, for kernels that hash or join them. */
  def words(s: UTF8String, icu: Boolean): Array[String] = {
    val t = tokens(s, icu)
    val out = new Array[String](t.length)
    var i = 0
    while (i < t.length) { out(i) = t(i).toString; i += 1 }
    out
  }
}

/** `spark.sql.icu.caseMappings.enabled`, read once per expression, as
  * Spark's `Lower` reads it. */
trait CaseMapping {
  lazy val icu: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}

/** Native `lower` over [[TextKernel.lower]]: the same value as Spark's
  * `lower(c)` for every input and both settings of the ICU conf. */
case class LowerText(child: Expression) extends UnaryExpression with CaseMapping {

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lower_text expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    TextKernel.lower(input.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.TextKernel.lower($c, $icu);")

  override protected def withNewChildInternal(newChild: Expression): LowerText =
    copy(child = newChild)
}

/** Native `split(trim(lower(c)), "\\s+")` over [[TextKernel.tokens]]. */
case class WordTokens(child: Expression) extends UnaryExpression with CaseMapping {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_tokens expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextKernel.tokens(input.asInstanceOf[UTF8String], icu).asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"(Object[]) graft.functions.TextKernel.tokens($c, $icu));")

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

object LowerText {
  /** Column API: `lower(c)`. */
  def lower_text(c: Column): Column = GraftShims.column(LowerText(GraftShims.expression(c)))

  /** Column API: `split(trim(lower(c)), "\\s+")`. */
  def word_tokens(c: Column): Column = GraftShims.column(WordTokens(GraftShims.expression(c)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernel of [[HashedShingles]]: the hashed word-n-gram set of
  * a document — exactly `Dedup.hashShingles(Dedup.shingles(df, text,
  * id, n, dedup, normalize, segment), id)`'s rows for one document,
  * returned as `array<long>` for the caller to explode.
  *
  * Why: the composable `shingles` builds every gram STRING through a
  * slice + zip_with(concat) chain — higher-order functions, so the
  * lambda evaluates INTERPRETED per element, and per doc it
  * materializes n token-array slices plus n−1 intermediate concat
  * arrays before the explode even starts (profiled on q173's gram leg:
  * 6.3 s CPU with task run time 2× CPU — an allocation/GC storm). The
  * kernel emits the 60-bit hashes in one pass; gram text never
  * materializes as a column. Equality with the composed formulation
  * (all flag combinations) is asserted in FunctionsSpec.
  *
  * Mirrors, expression by expression:
  *  - `segment`: `TextOps.segmentScripts` = `regexp_replace(c,
  *    "($CjkCodepointClass)", " $1 ")` on the RAW text;
  *  - `normalize`: `TextOps.normalizeForMatch` = lower → strip
  *    non-[a-z0-9\s] to space → collapse \s+ → trim;
  *  - tokens: `TextOps.tokens` = `split(trim(lower(c)), "\s+")`
  *    ([[TextKernel.words]]);
  *  - grams: n consecutive tokens joined by one space; docs with fewer
  *    than n tokens emit the empty set (the `size(toks) >= n` guard);
  *    n = 1 is the raw token list (no guard — `shingles` explodes
  *    tokens directly there);
  *  - `dedup`: per-doc distinct GRAMS (before hashing — a 60-bit
  *    collision between distinct grams keeps both rows, exactly like
  *    `.distinct()` on the string rows);
  *  - hash: `TextOps.portableHash(gram, seed)`.
  */
object HashedShinglesKernel extends Serializable {
  private val Ws = java.util.regex.Pattern.compile("\\s+")
  @transient private lazy val CjkPat = java.util.regex.Pattern.compile(
    "(" + graft.operators.TextOps.CjkCodepointClass + ")")
  @transient private lazy val NonAlnum =
    java.util.regex.Pattern.compile("[^a-z0-9\\s]")

  def apply(s: UTF8String, n: Int, seed: Int, dedup: Boolean,
      normalize: Boolean, segment: Boolean, icu: Boolean):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val src =
      if (normalize) {
        val l = TextKernel.lower(s, icu).toString
        val stripped = NonAlnum.matcher(l).replaceAll(" ")
        val collapsed = Ws.matcher(stripped).replaceAll(" ")
        UTF8String.fromString(collapsed).trim
      } else if (segment) {
        UTF8String.fromString(CjkPat.matcher(s.toString).replaceAll(" $1 "))
      } else s
    val toks = TextKernel.words(src, icu)
    val prefix = seed + ":"
    val out = new scala.collection.mutable.ArrayBuffer[Long](
      math.max(0, toks.length - (n - 1)))
    val seen = if (dedup) new java.util.HashSet[String]() else null
    if (n == 1) {
      var i = 0
      while (i < toks.length) {
        if (seen == null || seen.add(toks(i)))
          out += PortableHashKernel.hash60(
            UTF8String.fromString(prefix + toks(i)))
        i += 1
      }
    } else if (toks.length >= n) {
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        val g = sb.toString
        if (seen == null || seen.add(g))
          out += PortableHashKernel.hash60(UTF8String.fromString(prefix + g))
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Native Catalyst expression over [[HashedShinglesKernel]]; n, seed
  * and the mode flags ride the plan as literals. */
case class HashedShingles(child: Expression, n: Int, seed: Int,
    dedup: Boolean, normalize: Boolean, segment: Boolean)
    extends UnaryExpression with CaseMapping {

  require(n >= 1, s"gram size must be >= 1, got $n")
  require(!(normalize && segment),
    "normalize and segment are mutually exclusive (the shingles contract)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hashed_shingles expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    HashedShinglesKernel(input.asInstanceOf[UTF8String], n, seed, dedup,
      normalize, segment, icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val kernel = ctx.addReferenceObj("hashedShinglesKernel",
        HashedShinglesKernel, "graft.functions.HashedShinglesKernel$")
      s"${ev.value} = $kernel.apply($c, $n, $seed, $dedup, $normalize, $segment, $icu);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

object HashedShingles {
  /** Column API. */
  def hashed_shingles(c: Column, n: Int, seed: Int, dedup: Boolean,
      normalize: Boolean = false, segment: Boolean = false): Column =
    GraftShims.column(HashedShingles(GraftShims.expression(c), n, seed,
      dedup, normalize, segment))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression for the PQ encode hot loop
  * ([[graft.operators.Similarity.pqEncodeCol]]): per subspace, squared
  * L2 from the input's `dsub`-dim slice to every surviving codebook
  * entry, argmin with ties to the FIRST entry in dense order (= the
  * smallest original code id — the exact tie the HOF form's
  * `array_position(dists, array_min(dists))` takes), mapped back to the
  * original code id.
  *
  * The composable HOF formulation (`transform` × `slice` × nested
  * `aggregate`) evaluates interpreted lambda closures and allocates an
  * intermediate array per (row × subspace × codebook entry) — measured
  * ~67 s for 10⁶ × 64-d rows at ksub=16 (`bench/large_pq_1e6_hof.txt`); this
  * expression compiles to primitive loops inside whole-stage codegen
  * with the codebooks attached as a reference object. Accumulation is
  * the same dimension-order fold, so codes are IDENTICAL to the HOF
  * form (asserted bit-for-bit in FunctionsSpec) and the DuckDB oracles
  * are unchanged.
  *
  * Null handling: a null array yields null; a vector with fewer than
  * `m·dsub` elements yields null (the operators always feed full-width
  * vectors); null ELEMENTS contribute 0 (DotProduct convention).
  */
case class PqEncode(child: Expression, dense: Array[Array[Array[Double]]],
    codeIds: Array[Array[Int]], dsub: Int) extends UnaryExpression {

  private val m = dense.length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<double>, got ${t.simpleString}")
  }

  /** The argmin loop shared verbatim by both eval paths (and exercised
    * by codegen through [[PqCodecRuntime.encode]]). */
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val out = PqCodecRuntime.encode(v, dense, codeIds, m, dsub)
    if (out == null) null else new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val books = ctx.addReferenceObj("pqBooks", dense, "double[][][]")
    val ids = ctx.addReferenceObj("pqIds", codeIds, "int[][]")
    val codes = ctx.freshName("codes")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |int[] $codes = graft.functions.PqCodecRuntime.encode(
         |  $v, $books, $ids, $m, $dsub);
         |if ($codes == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** The primitive encode kernel — one implementation for the interpreted
  * and codegen paths (identical arithmetic by construction). */
object PqCodecRuntime {
  def encode(v: ArrayData, dense: Array[Array[Array[Double]]],
      codeIds: Array[Array[Int]], m: Int, dsub: Int): Array[Int] = {
    if (v.numElements() < m * dsub) return null
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val entries = dense(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < entries.length) {
        val ce = entries(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (v.isNullAt(s * dsub + i)) 0.0 else v.getDouble(s * dsub + i)
          val diff = x - ce(i)
          acc += diff * diff
          i += 1
        }
        // strict < : ties keep the FIRST (smallest-code) entry
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      out(s) = codeIds(s)(best)
      s += 1
    }
    out
  }
}

object PqCodec {
  /** Column API: native PQ encode of an `array<double>` column. */
  def pq_encode(v: Column, dense: Seq[Seq[Seq[Double]]],
      codeIds: Seq[Seq[Int]], dsub: Int): Column =
    GraftShims.column(PqEncode(GraftShims.expression(v),
      dense.map(_.map(_.toArray).toArray).toArray,
      codeIds.map(_.toArray).toArray, dsub))
}

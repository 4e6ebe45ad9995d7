package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native Catalyst expression for the k-means assignment hot loop
  * ([[graft.operators.Similarity.assignCellsLit]]): cosine from the
  * input vector to every centroid, argmax with ties to the smallest
  * cell id, returning `struct(cell: long, cos: double)`.
  *
  * The composable formulation (an `array_max` over k literal-array
  * `struct(dot/·/·, -cell)` branches) blows the generated method past
  * Janino's 64 KB limit at k = 64 and silently falls back to
  * interpreted evaluation — measured 25.7 s for a 102k × 64-d × 64-cell
  * assignment scan (`bench/large_semdedup.txt`); this kernel is
  * one primitive loop with the centroid matrix attached as a reference
  * object (the [[PqEncode]] discipline), shared verbatim by the
  * interpreted and codegen paths.
  *
  * Arithmetic is bit-identical to the expression form: ascending-dim
  * dot products (the [[DotProduct]] fold), `cos = dot / ||v|| / ||c||`
  * in that division order, centroid self-norms precomputed with the
  * same ascending fold, centroids visited in ascending cell order with
  * a strict `>` comparison (= `array_max` over `(cos, -cell)` structs:
  * ties keep the smallest cell). Null array → null; null elements
  * contribute 0 (the [[DotProduct]] convention); dims beyond the
  * shorter operand are ignored. A ZERO-NORM input (degenerate all-zero
  * embedding) makes every cosine `0/0 = NaN`; both forms return
  * `(smallest cell, NaN)` — the expression spec because `array_max`
  * orders NaN largest and ties go to the smallest cell, the kernel by
  * an explicit guard (FunctionsSpec pins the equivalence).
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]],
    cellIds: Array[Long], cnorms: Array[Double]) extends UnaryExpression {

  require(cents.length == cellIds.length && cents.length == cnorms.length &&
    cents.nonEmpty,
    "centroid matrix, cell ids, and norms must be non-empty and aligned")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    NearestCentroidRuntime.nearest(
      input.asInstanceOf[ArrayData], cents, cellIds, cnorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("ncCents", cents, "double[][]")
    val ids = ctx.addReferenceObj("ncIds", cellIds, "long[]")
    val ns = ctx.addReferenceObj("ncNorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.NearestCentroidRuntime.nearest(
         |  $v, $cs, $ids, $ns);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The primitive assignment kernel — one implementation for the
  * interpreted and codegen paths (identical arithmetic by construction). */
object NearestCentroidRuntime {
  def nearest(v: ArrayData, cents: Array[Array[Double]],
      cellIds: Array[Long], cnorms: Array[Double]): InternalRow = {
    val n = v.numElements()
    var vv = 0.0
    var i = 0
    while (i < n) {
      val x = if (v.isNullAt(i)) 0.0 else v.getDouble(i)
      vv += x * x
      i += 1
    }
    val vn = math.sqrt(vv)
    // zero-norm guard: dot/0 is NaN for every centroid, and the
    // expression spec's array_max orders NaN largest with the (cos,
    // -cell) tie rule picking the smallest cell — return exactly that
    // (cell = cellIds(0): ids are sorted ascending by construction).
    // Without this the strict > below never fires and the kernel would
    // emit cos = -Infinity where the spec emits NaN.
    if (vn == 0.0) return InternalRow(cellIds(0), Double.NaN)
    var bestCell = cellIds(0)
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      var dot = 0.0
      val lim = math.min(n, ce.length)
      var d = 0
      while (d < lim) {
        val x = if (v.isNullAt(d)) 0.0 else v.getDouble(d)
        dot += x * ce(d)
        d += 1
      }
      val cos = dot / vn / cnorms(c)
      // strict > with ascending cell order: ties keep the smallest cell
      if (cos > bestCos) { bestCos = cos; bestCell = cellIds(c) }
      c += 1
    }
    InternalRow(bestCell, bestCos)
  }
}

object NearestCentroid {
  /** Column API: nearest centroid of an `array<double>` column against a
    * `(cell, centroid)` table sorted ascending by cell. */
  def nearest_centroid(v: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    // self-norms with the plan-time ascending fold the expression form
    // used (bit-identical literals)
    val norms = sorted.map { case (_, ce) =>
      math.sqrt(ce.foldLeft(0.0)((acc, x) => acc + x * x)) }
    GraftShims.column(NearestCentroid(GraftShims.expression(v),
      sorted.map(_._2.toArray).toArray, sorted.map(_._1).toArray,
      norms.toArray))
  }
}

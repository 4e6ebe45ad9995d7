package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernel of [[SimHash32]] — one object so the codegen path can
  * call the exact same implementation the interpreted path uses.
  * Serializable: the codegen path ships it to executors inside the
  * generated projection's reference array. */
object SimHashKernel extends Serializable {
  /** 60-bit portable hash: first 15 hex chars of md5(s) as a Long —
    * identical to `TextOps.portableHash` for `s = "<seed>:<token>"`. */
  def hash60(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    // first 15 hex chars = first 7 bytes + high nibble of byte 8
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** DISTINCT `TextOps.tokens` ([[TextKernel.words]]) — the kernel
    * mirror of `TextOps.tokens` + `Dedup.shingles(n=1)`'s distinct. */
  def distinctTokens(s: UTF8String, icu: Boolean): java.util.LinkedHashSet[String] = {
    val toks = TextKernel.words(s, icu)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < toks.length) { seen.add(toks(i)); i += 1 }
    seen
  }

  /** 32-bit SimHash of a document: lowercase, trim, whitespace-split,
    * DISTINCT tokens, per-token 60-bit hash, sign-vote per bit. Votes are
    * integer sums, so the result is identical regardless of token order —
    * which is exactly why this is computable per row with no explode and
    * no shuffle. Mirrors `Dedup.simHash(shingles(n=1))` bit for bit. */
  def compute(s: UTF8String, icu: Boolean): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](32)
    val it = distinctTokens(s, icu).iterator()
    while (it.hasNext) {
      val h = hash60(md, "3:" + it.next())
      var b = 0
      while (b < 32) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** MinHash signature: element i = min over the distinct tokens of the
    * seed-i portable hash — identical to
    * `Dedup.minHash(shingles(n=1), k)`'s grouped mins (min is
    * order-independent, hence per-row computable). */
  def minhash(s: UTF8String, k: Int, icu: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    val it = distinctTokens(s, icu).iterator()
    while (it.hasNext) {
      val t = it.next()
      var i = 0
      while (i < k) {
        val h = hash60(md, i.toString + ":" + t)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** [[minhash]] over word n-gram shingles — `Dedup.minHash(shingles(n),
    * k)`'s grouped mins folded into one per-row pass (min is
    * order-independent and duplicate-insensitive, so neither the explode
    * nor the distinct is needed). The caller must DROP docs with fewer
    * than `n` tokens before banding (the grouped form emits no signature
    * row for them; an all-MaxValue signature would band every short doc
    * into one bogus mega-bucket). */
  def minhashN(s: UTF8String, k: Int, n: Int,
      icu: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (n <= 1) return minhash(s, k, icu)
    val toks = TextKernel.words(s, icu)
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      val t = sb.toString
      var q = 0
      while (q < k) {
        val h = hash60(md, q.toString + ":" + t)
        if (h < mins(q)) mins(q) = h
        q += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Bag-of-words fingerprint: sum over ALL tokens (multiset, not
    * distinct) of `portableHash(token, 7) mod 1000003`, mod 1000003 — an
    * order-independent integer sum, identical to
    * [[graft.operators.TextOps.fingerprint]]'s grouped formulation. */
  def fingerprint(s: UTF8String, icu: Boolean): Long = {
    val toks = TextKernel.words(s, icu)
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc += hash60(md, "7:" + toks(i)) % 1000003L
      i += 1
    }
    acc % 1000003L
  }
}

/** Native Catalyst expression: 32-bit SimHash fingerprint of a STRING
  * document, computed per row. The composable formulation
  * ([[graft.operators.Dedup.simHash]] over exploded shingles) materializes
  * one row per (doc, token) and aggregates 32 vote sums through a shuffle;
  * because the votes are order-independent integer sums, the whole
  * pipeline folds into one per-row pass — a map-only stage at 100 TB,
  * with identical fingerprints (asserted in OperatorSpec). The grouped
  * form remains the executable spec and the general path for n-gram
  * shingle frames.
  */
case class SimHash32(child: Expression) extends UnaryExpression with CaseMapping {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash32 expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.compute(input.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val kernel = ctx.addReferenceObj("simhashKernel", SimHashKernel,
        "graft.functions.SimHashKernel$")
      s"${ev.value} = $kernel.compute($c, $icu);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

object SimHash32 {
  /** Column API. */
  def simhash32(c: Column): Column =
    GraftShims.column(SimHash32(GraftShims.expression(c)))
}

/** Native Catalyst expression: k-element MinHash signature of a STRING
  * document, per row — the same order-independence argument as
  * [[SimHash32]] (each signature element is a min), so the shingle
  * explode + k-way min groupBy folds into one map-only pass with
  * signatures identical to [[graft.operators.Dedup.minHash]] over
  * `ngram`-shingles (asserted in OperatorSpec; n = 1 is the original
  * unigram path). CALLER CONTRACT for n > 1: filter out docs with fewer
  * than `ngram` tokens first — the grouped spec emits no row for them
  * (see [[SimHashKernel.minhashN]]). */
case class MinHashSig(child: Expression, numHashes: Int, ngram: Int = 1)
    extends UnaryExpression with CaseMapping {

  require(ngram >= 1, s"ngram must be >= 1, got $ngram")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.minhashN(input.asInstanceOf[UTF8String], numHashes, ngram, icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val kernel = ctx.addReferenceObj("minhashKernel", SimHashKernel,
        "graft.functions.SimHashKernel$")
      s"${ev.value} = $kernel.minhashN($c, $numHashes, $ngram, $icu);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Column API; `ngram` > 1 switches to word n-gram shingles (drop
    * docs shorter than `ngram` tokens first — the caller contract). */
  def minhash_sig(c: Column, numHashes: Int, ngram: Int = 1): Column =
    GraftShims.column(MinHashSig(GraftShims.expression(c), numHashes, ngram))
}

/** Native Catalyst expression: bag-of-words document fingerprint per row —
  * the order-independent-sum folding of
  * [[graft.operators.TextOps.fingerprint]] (which stays as the grouped
  * executable spec; equality asserted in OperatorSpec). */
case class Fingerprint(child: Expression) extends UnaryExpression with CaseMapping {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fingerprint64 expects STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.fingerprint(input.asInstanceOf[UTF8String], icu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val kernel = ctx.addReferenceObj("fpKernel", SimHashKernel,
        "graft.functions.SimHashKernel$")
      s"${ev.value} = $kernel.fingerprint($c, $icu);"
    })

  override protected def withNewChildInternal(newChild: Expression): Fingerprint =
    copy(child = newChild)
}

object Fingerprint {
  /** Column API. */
  def fingerprint64(c: Column): Column =
    GraftShims.column(Fingerprint(GraftShims.expression(c)))
}

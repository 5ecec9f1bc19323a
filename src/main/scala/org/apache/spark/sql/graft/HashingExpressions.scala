package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document signature expressions. SimHash and MinHash are scalar
  * per-row computations (each document's signature depends only on its own
  * tokens), so the natural Spark shape is ONE expression evaluating a
  * tight loop per row — not the explode → shuffle → 64-aggregates
  * relational encoding, whose only purpose was escaping interpreted
  * higher-order functions. These are `CodegenFallback` deliberately: the
  * per-row loop (≈ tokens × 64 hash/bit ops) dwarfs the per-row boxing a
  * fallback costs, and the loop body is plain compiled JVM code.
  *
  * Hash family: token hash = XXH64(bytes, seed 42) — identical to the
  * builtin `xxhash64(col)`; derived hashes chain through XXH64.hashLong.
  */
private[graft] trait TokenArrayExpression extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }
  protected def tokenHash(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
}

/** 64-bit SimHash over a token array: per-bit majority vote of token
  * hashes, frequency-weighted (duplicates count). Null/empty tokens are
  * skipped; an array with no real tokens yields NULL (not 0L) so callers
  * can preserve the "docs with zero tokens are absent" invariant — two
  * empty docs must not look like hamming-distance-0 near-duplicates.
  */
case class SimHash64(child: Expression)
    extends TokenArrayExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var seen = false
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      // null/empty tokens skipped here so callers can pass a raw
      // codegen'd `split` without an interpreted filter() HOF pass
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i) // bind once: each getter allocates
        if (t.numBytes > 0) {
          seen = true
          val h = tokenHash(t)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
      i += 1
    }
    if (!seen) return null
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** MinHash signature over a token array: word-shingles of `shingleSize`
  * (whole-token-run fallback for shorter docs), shingle hash chained from
  * token hashes, signature j = min over shingles of
  * XXH64.hashLong(shingleHash, seed j). Returns array<long>[numHashes];
  * null for docs with zero tokens (no shingle → no signature, matching
  * the relational form's explode semantics).
  */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends TokenArrayExpression with CodegenFallback {
  require(numHashes > 0 && shingleSize > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // token hashes (null/empty tokens skipped — see SimHash64 note)
    val th = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i) // bind once: each getter allocates
        if (t.numBytes > 0) { th(m) = tokenHash(t); m += 1 }
      }
      i += 1
    }
    if (m == 0) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val nShingles = if (m < shingleSize) 1 else m - shingleSize + 1
    val width = math.min(shingleSize, m)
    var p = 0
    while (p < nShingles) {
      var sh = th(p)
      var o = 1
      while (o < width) { sh = XXH64.hashLong(th(p + o), sh); o += 1 }
      var j = 0
      while (j < numHashes) {
        val d = XXH64.hashLong(sh, j.toLong)
        if (d < sig(j)) sig(j) = d
        j += 1
      }
      p += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Distinct word n-grams ("shingles") of a token array as space-joined
  * strings — the compiled twin of the `transform(sequence, slice,
  * concat_ws)` higher-order construction, which evaluates interpreted
  * (per shingle: a lambda dispatch, a slice allocation, a concat) and
  * measures ~ms/doc; this loop is ~µs/doc. Output order and content are
  * identical to `array_distinct(shingles(tokens(text), n))`:
  * first-occurrence order, null/empty tokens skipped (so a raw codegen'd
  * `split` can feed it), docs with zero real tokens yield NULL.
  *
  * `shortFallback`: docs with fewer than `n` tokens contribute their
  * whole token run as a single shingle (the [[graft.functions
  * .TextFunctions.shingles]] contract, needed by minhash/decontamination
  * so short docs still match verbatim copies); with it off they yield
  * NULL (no real n-gram — the doc-frequency report's contract).
  */
case class WordShingles(child: Expression, n: Int, shortFallback: Boolean)
    extends TokenArrayExpression with CodegenFallback {
  require(n > 0)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingles"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val total = arr.numElements()
    val toks = new Array[UTF8String](total)
    var m = 0
    var i = 0
    while (i < total) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i) // bind once: each getter allocates
        if (t.numBytes > 0) { toks(m) = t; m += 1 }
      }
      i += 1
    }
    if (m == 0 || (m < n && !shortFallback)) return null
    val width = math.min(n, m)
    val count = if (m < n) 1 else m - n + 1
    // first-occurrence dedup, preserving array_distinct order
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    val window = new Array[UTF8String](width)
    var p = 0
    while (p < count) {
      System.arraycopy(toks, p, window, 0, width)
      seen.add(UTF8String.concatWs(space, window: _*))
      p += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Jaccard similarity of two DISTINCT string arrays (shingle sets):
  * |a ∩ b| / |a ∪ b|, with the union size taken as |a| + |b| − |a ∩ b|.
  * For distinct inputs this equals
  * `size(array_intersect(a, b)) / size(array_union(a, b))` bit for bit
  * (the same two ints, the same double division) without materializing
  * either intermediate array: one hash set over the smaller side, one
  * probe pass over the larger. A null element counts as one member,
  * as it does in `array_intersect`/`array_union`. Null in → null out;
  * two empty arrays (0/0) → null, as non-ANSI division by zero is.
  * Arrays with repeated elements get a wrong union size — feed it
  * [[WordShingles]] outputs, which are distinct and never empty.
  */
case class DistinctJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "distinct_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (small, large) = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    }
    val ns = small.numElements()
    val nl = large.numElements()
    if (ns + nl == 0) return null
    val set = new java.util.HashSet[UTF8String](ns * 2)
    var smallNull = false
    var i = 0
    while (i < ns) {
      if (small.isNullAt(i)) smallNull = true else set.add(small.getUTF8String(i))
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nl) {
      if (large.isNullAt(i)) { if (smallNull) inter += 1 }
      else if (set.contains(large.getUTF8String(i))) inter += 1
      i += 1
    }
    inter.toDouble / (ns + nl - inter).toDouble
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DistinctJaccard =
    copy(left = newLeft, right = newRight)
}

/** LSH band keys of a MinHash signature: element b is
  * `xxhash64(b, slice(sig, b * rows + 1, rows))` with Spark's seed 42,
  * bit for bit (an int child hashes with hashInt, each array element
  * chains through hashLong). Compiled, so banding is one tight loop per
  * signature instead of `bands` interpreted lambda calls that each
  * allocate a slice.
  */
case class BandHashes(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(bands > 0 && rows > 0)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override def nullSafeEval(input: Any): Any = {
    val sig = input.asInstanceOf[ArrayData]
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      var r = b * rows
      val end = math.min(r + rows, sig.numElements())
      while (r < end) {
        if (!sig.isNullAt(r)) h = XXH64.hashLong(sig.getLong(r), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

object HashingExpressions {
  def simhash64(toks: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(toks)))

  def minhashSignature(toks: Column, numHashes: Int, shingleSize: Int): Column =
    ExpressionUtils.column(MinHashSignature(
      ExpressionUtils.expression(toks), numHashes, shingleSize))

  def wordShingles(toks: Column, n: Int,
      shortFallback: Boolean = true): Column =
    ExpressionUtils.column(WordShingles(
      ExpressionUtils.expression(toks), n, shortFallback))

  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    ExpressionUtils.column(BandHashes(ExpressionUtils.expression(sig), bands, rows))

  def distinctJaccard(a: Column, b: Column): Column =
    ExpressionUtils.column(DistinctJaccard(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

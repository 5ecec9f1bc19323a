package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Top-p nearest centroids by cosine, over a FROZEN centroid matrix, in
  * ONE expression evaluation per row — flat, or routed through a
  * two-level coarse structure.
  *
  * Why this exists: the straightforward assignment formulation —
  * `greatest(struct(cosine(v, lit(c₀)), 0), …, struct(cosine(v, lit(c₁₅₉)),
  * 159))` — builds an nList-wide expression tree whose generated code
  * blows past the JIT/codegen method budget at realistic list counts, so
  * the whole projection drops to interpreted per-row tree-walking:
  * measured ~5 µs per (row × centroid) at nList=160, turning the "linear"
  * assignment stage into the pipeline's bottleneck precisely when nList
  * scales with the corpus (the knob that keeps the within-cluster pair
  * stage bounded). This expression evaluates the entire argmax in one
  * compiled primitive loop — the generated code is a single static call,
  * so WholeStageCodegen stays intact around it, and the loop body is
  * JIT-compiled Scala regardless of expression-tree size. Measured ~70×
  * on the 20 k × 160 assignment (16.6 s → 0.24 s).
  *
  * `routing` (optional) is the O(n·√nList) scale path: the flat loop is
  * still O(nList) per row, and the SemDeDup/knn-graph contract grows
  * nList ∝ corpus to hold the mean cluster size flat, so flat assignment
  * is O(n²/b) overall — the r11 100× probe measured ~30× per decade at
  * 200k × 2000 centroids (18.7 s; ~2000 s at the next decade — BASELINE
  * r11 batch 3). A routed row ranks the coarse level first (classic
  * IVF-of-centroids), then only the top-`rProbe` groups' member
  * centroids ([[topKRouted]]). Probing every group degenerates to the
  * exact flat argmax, so the caller (Similarity.assign) passes a routing
  * only when rProbe is below the coarse count.
  *
  * Semantics are bit-identical to the greatest/array_sort formulations it
  * replaces (both rank by (s desc, centroid-id desc), nulls losing to any
  * real score — struct comparison treats a null field as smallest):
  *  - per-centroid score = [[CosineSimilarity]]'s exact arithmetic (index-
  *    order double folds, dot/(√‖v‖²·√‖c‖²)); a zero-norm side, length
  *    mismatch, or null element makes that score null;
  *  - result = the p centroid indexes ranked by (score desc, index desc),
  *    null scores ranked below all real scores (and among themselves by
  *    index desc) — exactly `reverse(array_sort(structs))` order; the
  *    routed kernel applies the same rule at both levels;
  *  - a NULL input vector yields NULL (the one divergence from the
  *    greatest() form, which manufactured cluster nList−1 out of an
  *    all-null struct comparison — an accident, not a contract);
  *  - a routed row whose probed groups hold fewer than p members yields
  *    only those (an empty array when every probed group is empty).
  */
case class TopCentroids(child: Expression, centroids: Array[Array[Float]],
    p: Int, routing: Option[TopCentroids.Routing])
    extends UnaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty, "centroids must be non-empty")
  require(p >= 1 && p <= centroids.length,
    s"p ($p) must be in [1, ${centroids.length}]")
  routing.foreach { r =>
    require(r.coarse.nonEmpty, "coarse matrix must be non-empty")
    require(r.members.length == r.coarse.length,
      s"members (${r.members.length}) must map 1:1 to coarse (${r.coarse.length})")
    require(r.rProbe >= 1 && r.rProbe <= r.coarse.length,
      s"rProbe (${r.rProbe}) must be in [1, ${r.coarse.length}]")
  }

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_centroids requires array<float|double>, got ${other.catalogString}")
    }

  private def isFloatElems: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val norms2: Array[Double] =
    TopCentroids.norms2Of(centroids)
  @transient private lazy val coarseNorms2: Array[Double] =
    routing.map(r => TopCentroids.norms2Of(r.coarse)).orNull

  override def nullSafeEval(v: Any): Any = routing match {
    case None =>
      TopCentroids.topK(v.asInstanceOf[ArrayData], centroids, norms2, p,
        isFloatElems)
    case Some(r) =>
      TopCentroids.topKRouted(v.asInstanceOf[ArrayData], centroids, norms2,
        r.coarse, coarseNorms2, r.members, r.rProbe, p, isFloatElems)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val norms = ctx.addReferenceObj("centroidNorms2", norms2, "double[]")
    val (kernel, args) = routing match {
      case None => ("topK", s"$cents, $norms, $p, $isFloatElems")
      case Some(r) =>
        val crs = ctx.addReferenceObj("coarse", r.coarse, "float[][]")
        val crsN = ctx.addReferenceObj("coarseNorms2", coarseNorms2, "double[]")
        val mem = ctx.addReferenceObj("members", r.members, "int[][]")
        ("topKRouted",
          s"$cents, $norms, $crs, $crsN, $mem, ${r.rProbe}, $p, $isFloatElems")
    }
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.TopCentroids.$kernel($a, $args);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCentroids =
    copy(child = newChild)

  override def prettyName: String = "top_centroids"
}

object TopCentroids {
  /** The two-level structure a routed row probes: `coarse` rows, each
    * owning the centroid indexes in `members` (1:1 with `coarse`), and
    * the per-row probe budget `rProbe` in [1, coarse.length].
    */
  final case class Routing(coarse: Array[Array[Float]],
      members: Array[Array[Int]], rProbe: Int)

  /** Column-API entry point. */
  def apply(vec: Column, centroids: Seq[Seq[Float]], p: Int,
      routing: Option[Routing] = None): Column =
    ExpressionUtils.column(TopCentroids(ExpressionUtils.expression(vec),
      centroids.map(_.toArray).toArray, p, routing))

  /** ‖c‖² per centroid, folded in index order — the same accumulation the
    * per-pair cosine performed, hoisted out of the row loop.
    */
  def norms2Of(cents: Array[Array[Float]]): Array[Double] = {
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cc = cents(c); var nb = 0.0; var i = 0
      while (i < cc.length) {
        val y = cc(i).toDouble; nb += y * y; i += 1
      }
      out(c) = nb
      c += 1
    }
    out
  }

  /** The whole top-p argmax for one row. Called once per row from the
    * generated code (and from the interpreted eval); everything inside is
    * plain JIT-compiled primitive loops. Null scores are encoded as −∞ —
    * cosine is bounded in [−1, 1], so the encoding cannot collide with a
    * real score, and the (score desc, index desc) insertion rule then
    * ranks nulls below everything exactly like the struct comparison did.
    */
  def topK(v: ArrayData, cents: Array[Array[Float]], norms2: Array[Double],
      p: Int, isFloat: Boolean): ArrayData = {
    val nC = cents.length
    val dim = if (nC > 0) cents(0).length else 0
    val n = v.numElements()
    // decode the vector once (not once per centroid); any defect that
    // nulls ONE pairwise cosine (length mismatch, null element, zero
    // norm) nulls them all, since the vector side is shared
    var bad = n != dim
    val xs = new Array[Double](if (bad) 0 else n)
    var na = 0.0
    if (!bad) {
      var i = 0
      while (i < n && !bad) {
        if (v.isNullAt(i)) bad = true
        else {
          val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          xs(i) = x; na += x * x; i += 1
        }
      }
      if (!bad && na == 0.0) bad = true
    }
    val sqNa = math.sqrt(na)
    val bestS = new Array[Double](p)
    val bestI = new Array[Int](p)
    java.util.Arrays.fill(bestS, Double.NegativeInfinity)
    java.util.Arrays.fill(bestI, Int.MinValue)
    var c = 0
    while (c < nC) {
      val s =
        if (bad || norms2(c) == 0.0) Double.NegativeInfinity
        else {
          val cc = cents(c)
          var dot = 0.0; var i = 0
          while (i < dim) { dot += xs(i) * cc(i); i += 1 }
          dot / (sqNa * math.sqrt(norms2(c)))
        }
      // insertion rank: s desc, then HIGHER index first. The scan goes
      // index-ascending, so on equal scores the current (larger) index
      // must displace the earlier one — hence >=.
      var j = 0
      while (j < p && s < bestS(j)) j += 1
      if (j < p) {
        var k = p - 1
        while (k > j) { bestS(k) = bestS(k - 1); bestI(k) = bestI(k - 1); k -= 1 }
        bestS(j) = s; bestI(j) = c
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bestI)
  }

  /** Two-level top-p for one row (see [[Routing]]): rank the
    * coarse level, then score only the top-rProbe groups' member
    * centroids. Unlike [[topK]]'s scan-order `>=` trick, the insertion
    * rule here is the EXPLICIT lexicographic (score desc, index desc) —
    * member iteration crosses group boundaries, so global indexes do
    * not arrive ascending and ties must not depend on arrival order.
    */
  def topKRouted(v: ArrayData, cents: Array[Array[Float]],
      norms2: Array[Double], coarse: Array[Array[Float]],
      coarseNorms2: Array[Double], members: Array[Array[Int]],
      rProbe: Int, p: Int, isFloat: Boolean): ArrayData = {
    val dim = if (cents.nonEmpty) cents(0).length else 0
    val n = v.numElements()
    var bad = n != dim
    val xs = new Array[Double](if (bad) 0 else n)
    var na = 0.0
    if (!bad) {
      var i = 0
      while (i < n && !bad) {
        if (v.isNullAt(i)) bad = true
        else {
          val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          xs(i) = x; na += x * x; i += 1
        }
      }
      if (!bad && na == 0.0) bad = true
    }
    val sqNa = math.sqrt(na)
    def scoreOf(cc: Array[Float], n2: Double): Double =
      if (bad || n2 == 0.0) Double.NegativeInfinity
      else {
        var dot = 0.0; var i = 0
        while (i < dim) { dot += xs(i) * cc(i); i += 1 }
        dot / (sqNa * math.sqrt(n2))
      }
    // stage 1: top-rProbe coarse groups, (s desc, idx desc)
    val gS = new Array[Double](rProbe)
    val gI = new Array[Int](rProbe)
    java.util.Arrays.fill(gS, Double.NegativeInfinity)
    java.util.Arrays.fill(gI, Int.MinValue)
    var g = 0
    while (g < coarse.length) {
      val s = scoreOf(coarse(g), coarseNorms2(g))
      var j = 0
      while (j < rProbe && (s < gS(j) || (s == gS(j) && g < gI(j)))) j += 1
      if (j < rProbe) {
        var k = rProbe - 1
        while (k > j) { gS(k) = gS(k - 1); gI(k) = gI(k - 1); k -= 1 }
        gS(j) = s; gI(j) = g
      }
      g += 1
    }
    // stage 2: top-p over the probed groups' members, same rule
    val bestS = new Array[Double](p)
    val bestI = new Array[Int](p)
    java.util.Arrays.fill(bestS, Double.NegativeInfinity)
    java.util.Arrays.fill(bestI, Int.MinValue)
    var r = 0
    while (r < rProbe) {
      if (gI(r) != Int.MinValue) {
        val mem = members(gI(r))
        var m = 0
        while (m < mem.length) {
          val c = mem(m)
          val s = scoreOf(cents(c), norms2(c))
          var j = 0
          while (j < p && (s < bestS(j) || (s == bestS(j) && c < bestI(j)))) j += 1
          if (j < p) {
            var k = p - 1
            while (k > j) {
              bestS(k) = bestS(k - 1); bestI(k) = bestI(k - 1); k -= 1
            }
            bestS(j) = s; bestI(j) = c
          }
          m += 1
        }
      }
      r += 1
    }
    // Unlike the flat form (whose candidate set is ALL centroids, so p
    // slots always fill), the probed groups' member union can hold fewer
    // than p centroids — emit only the filled slots rather than
    // Int.MinValue sentinels (a downstream explode/join would treat a
    // sentinel as a real cluster id). Mirrors the SQL replay, where
    // `rn <= p` over fewer candidates simply yields fewer rows.
    var filled = p
    while (filled > 0 && bestI(filled - 1) == Int.MinValue) filled -= 1
    UnsafeArrayData.fromPrimitiveArray(
      if (filled == p) bestI else java.util.Arrays.copyOf(bestI, filled))
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** Native dense-vector kernels.
  *
  * The declarative dot product — `aggregate(zip_with(a, b, _*_), 0.0,
  * _+_)` — allocates an intermediate array and interprets two lambdas
  * per element; at 64 dims × millions of candidate pairs it dominated
  * the ANN queries. The kernel below is the identical left-to-right
  * summation (bit-identical doubles, matching DuckDB's
  * `list_dot_product` evaluation order, so oracles are unchanged) as a
  * single fused loop, exposed through `StaticInvoke` for direct
  * codegen-compiled calls.
  */
object VectorKernel {
  /** Sequential Σ a(i)·b(i). Ragged inputs FAIL LOUDLY: zipping the
    * common prefix (what `zip_with` null-padding degrades to) would
    * return a plausible-but-wrong similarity for a corrupt embedding
    * column — every consumer (cosine, ADC, LSH) assumes equal dims, so
    * a mismatch is always an upstream data bug, never a semantics.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot: dimension mismatch ($n vs ${b.numElements()}) — " +
          "ragged embedding input; fix the upstream vector column")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Int8 scalar-quantization codes: `round((v−mn)/scale·255) − 128`
    * with min/max computed ONCE per vector — the declarative
    * `transform(d, v => round((v − array_min(d)) / ...))` re-evaluates
    * the min/max subtrees per ELEMENT (interpreted HOF lambdas see no
    * subexpression elimination), turning a linear kernel quadratic.
    * HALF_UP rounding matches Spark's `round` (and DuckDB's
    * half-away-from-zero, the scaled value being non-negative), so
    * codes are identical to the declarative twin's.
    *
    * Non-finite components (NaN/±Inf — a corrupt upstream vector) fail
    * loudly, matching the declarative twin, whose ANSI int cast throws
    * CAST_OVERFLOW on the same input (verified): quantization must not
    * silently fabricate a code for garbage.
    */
  /** Spark's `round(x, 6)` on DOUBLE, exactly (RoundBase: NaN/±Inf
    * pass through unchanged; else BigDecimal.valueOf → setScale
    * HALF_UP → doubleValue). The fused argmin/argmax kernels below
    * must round per-pair scores identically to the declarative
    * `round(.., 6)` they replace, or a score on a rounding boundary
    * would flip an assignment. */
  private[graft] def round6(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark SQL's double ordering (SQLOrderingUtil.compareDoubles):
    * `x == y` first (so ±0.0 compare equal), else Double.compare
    * (NaN greatest) — the ordering `max_by`/`min_by` struct keys use. */
  private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Fused nearest-cell argmax: over parallel centroid arrays
    * `(cenIds, cvs, cnrms)`, the cen_id maximizing
    * `round(dot(e, cv) / (nrm * cnrm), 6)` with ties to the LOWEST
    * cen_id — exactly `max_by(cen_id, struct(csim, -cen_id))` over
    * the per-(vector, centroid) fan-out it replaces
    * ([[graft.operators.Similarity.assignCells]]): the declarative
    * shape inflated the corpus ×nCentroids rows and paid a max_by
    * aggregation (buffers carrying the embedding) per vector; the
    * kernel is one fused loop per row, no fan-out, no aggregation
    * (guide §4; optimization round 20). A centroid whose id, vector
    * or norm is null is skipped, as if absent from the table — the
    * null-skip of the aggregation it replaces, instead of an executor
    * NPE. Empty centroid tables — or tables with no non-null centroid
    * — fail loudly; callers filter empty ones out (the declarative
    * shape produced no row; the caller-side size() guard preserves
    * that).
    */
  def bestCellCosine(e: ArrayData, nrm: Double, cenIds: ArrayData,
      cvs: ArrayData, cnrms: ArrayData): Long = {
    val k = cenIds.numElements()
    if (k == 0)
      throw new IllegalArgumentException(
        "bestCellCosine: empty centroid table — callers must filter " +
          "empty packed centroid rows")
    var bestSim = 0.0
    var bestId = 0L
    var first = true
    var i = 0
    while (i < k) {
      if (!(cenIds.isNullAt(i) || cvs.isNullAt(i) || cnrms.isNullAt(i))) {
        val cenId = cenIds.getLong(i)
        val sim =
          round6(dot(e, cvs.getArray(i)) / (nrm * cnrms.getDouble(i)))
        val c = if (first) 1 else cmpD(sim, bestSim)
        if (c > 0 || (c == 0 && cenId < bestId)) {
          bestSim = sim; bestId = cenId; first = false
        }
      }
      i += 1
    }
    if (first) noCentroid("bestCellCosine")
    bestId
  }

  /** Fused nearest-code argmin: over parallel codebook arrays
    * `(cenIds, cvs, cvvs)` (cvv = dot(cv, cv), precomputed once per
    * centroid instead of once per pair), the cen_id minimizing
    * `round(dot(sv, sv) − dot(sv, cv)·2 + cvv, 6)` with ties to the
    * LOWEST cen_id — exactly `min_by(cen_id, struct(dist2, cen_id))`
    * over the per-(subvector, centroid) fan-out it replaces (the PQ
    * assignment sites in [[graft.operators.Similarity]]). Same
    * fusion argument and null-centroid skip as [[bestCellCosine]].
    */
  def bestCodeL2(sv: ArrayData, cenIds: ArrayData, cvs: ArrayData,
      cvvs: ArrayData): Long = {
    val k = cenIds.numElements()
    if (k == 0)
      throw new IllegalArgumentException(
        "bestCodeL2: empty codebook — callers must filter empty " +
          "packed codebook rows")
    val svv = dot(sv, sv)
    var bestD = 0.0
    var bestId = 0L
    var first = true
    var i = 0
    while (i < k) {
      if (!(cenIds.isNullAt(i) || cvs.isNullAt(i) || cvvs.isNullAt(i))) {
        val cenId = cenIds.getLong(i)
        val d2 =
          round6(svv - dot(sv, cvs.getArray(i)) * 2 + cvvs.getDouble(i))
        val c = if (first) -1 else cmpD(d2, bestD)
        if (c < 0 || (c == 0 && cenId < bestId)) {
          bestD = d2; bestId = cenId; first = false
        }
      }
      i += 1
    }
    if (first) noCentroid("bestCodeL2")
    bestId
  }

  /** The MIN rounded squared distance of [[bestCodeL2]]'s loop (the
    * distortion a PQ drift probe needs — value, not argmin; same
    * per-pair arithmetic, double ordering and null-centroid skip). */
  def minCodeDistL2(sv: ArrayData, cvs: ArrayData,
      cvvs: ArrayData): Double = {
    val k = cvs.numElements()
    if (k == 0)
      throw new IllegalArgumentException(
        "minCodeDistL2: empty codebook — callers must filter empty " +
          "packed codebook rows")
    val svv = dot(sv, sv)
    var bestD = 0.0
    var first = true
    var i = 0
    while (i < k) {
      if (!(cvs.isNullAt(i) || cvvs.isNullAt(i))) {
        val d2 =
          round6(svv - dot(sv, cvs.getArray(i)) * 2 + cvvs.getDouble(i))
        if (first || cmpD(d2, bestD) < 0) { bestD = d2; first = false }
      }
      i += 1
    }
    if (first) noCentroid("minCodeDistL2")
    bestD
  }

  private def noCentroid(kernel: String): Nothing =
    throw new IllegalArgumentException(
      s"$kernel: every packed centroid is null — no centroid to assign")

  def int8Codes(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Int](n)
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val v = a.getDouble(i)
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
        throw new IllegalArgumentException(
          s"int8Codes: non-finite component $v at index $i — " +
            "quantization requires finite embeddings")
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val scale = if (mx > mn) mx - mn else 1.0
    i = 0
    while (i < n) {
      val x = (a.getDouble(i) - mn) / scale * 255.0
      // exact HALF_UP for non-negative x: frac = x − floor(x) is exact
      // for x < 2^52, so no floor(x+0.5) double-rounding (which lifts
      // e.g. 0.49999999999999994 to 1). Ties (frac == 0.5, only exactly
      // representable .5s) round up — same as Spark round / DuckDB.
      val f = math.floor(x)
      out(i) = (if (x - f >= 0.5) f + 1.0 else f).toInt - 128
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

object Vectors {

  def dotExpr(a: Expression, b: Expression): Expression =
    StaticInvoke(
      VectorKernel.getClass,
      DoubleType,
      "dot",
      Seq(a, b),
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
      propagateNull = true,
      returnNullable = false)

  /** Native dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      dotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def int8CodesExpr(a: Expression): Expression =
    StaticInvoke(
      VectorKernel.getClass,
      ArrayType(IntegerType, containsNull = false),
      "int8Codes",
      Seq(a),
      inputTypes = Seq(ArrayType(DoubleType)),
      propagateNull = true,
      returnNullable = false)

  /** Native int8 quantization codes of an array<double> column. */
  def int8Codes(a: Column): Column =
    ColumnBridge.column(int8CodesExpr(ColumnBridge.expression(a)))

  /** Fused nearest-cell argmax over a packed centroid table — see
    * [[VectorKernel.bestCellCosine]]. */
  def bestCellCosine(e: Column, nrm: Column, cenIds: Column,
      cvs: Column, cnrms: Column): Column =
    ColumnBridge.column(StaticInvoke(
      VectorKernel.getClass,
      LongType,
      "bestCellCosine",
      Seq(e, nrm, cenIds, cvs, cnrms).map(ColumnBridge.expression),
      inputTypes = Seq(ArrayType(DoubleType), DoubleType,
        ArrayType(LongType), ArrayType(ArrayType(DoubleType)),
        ArrayType(DoubleType)),
      propagateNull = true,
      returnNullable = false))

  /** Min rounded squared distance to a packed per-subspace codebook —
    * see [[VectorKernel.minCodeDistL2]]. */
  def minCodeDistL2(sv: Column, cvs: Column, cvvs: Column): Column =
    ColumnBridge.column(StaticInvoke(
      VectorKernel.getClass,
      DoubleType,
      "minCodeDistL2",
      Seq(sv, cvs, cvvs).map(ColumnBridge.expression),
      inputTypes = Seq(ArrayType(DoubleType),
        ArrayType(ArrayType(DoubleType)), ArrayType(DoubleType)),
      propagateNull = true,
      returnNullable = false))

  /** Fused nearest-code argmin over a packed per-subspace codebook —
    * see [[VectorKernel.bestCodeL2]]. */
  def bestCodeL2(sv: Column, cenIds: Column, cvs: Column,
      cvvs: Column): Column =
    ColumnBridge.column(StaticInvoke(
      VectorKernel.getClass,
      LongType,
      "bestCodeL2",
      Seq(sv, cenIds, cvs, cvvs).map(ColumnBridge.expression),
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(LongType),
        ArrayType(ArrayType(DoubleType)), ArrayType(DoubleType)),
      propagateNull = true,
      returnNullable = false))
}

package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native SQ8 scalar-quantizer kernels — the encode and the asymmetric
  * L2 of a FAISS `IndexScalarQuantizer(QT_8bit)`-style index
  * (reference ingest archives its rasters full-precision; the SQ8 tier
  * is this engine's compressed-ANN addition, SURVEY.md §2 ★similarity).
  *
  * `sq8_codes(v, mns, mxs)` → array<long>: per dimension d,
  * `Δ_d = mx_d − mn_d` (doubles from float casts); `0` when `Δ_d = 0`,
  * else `floor((v_d − mn_d)/Δ_d · 255)`. Bit-identical to the unrolled
  * per-dimension `when(Δ===0, 0).otherwise(floor(...))` Column chain it
  * replaced ([[graft.operators.Similarity.sq8CodeColsComposed]],
  * equivalence-pinned in ExpressionSpec) and to the oracle's identical
  * per-dimension SQL, so codes are integer-identical in any engine.
  *
  * `sq8_l2(p, codes, mns, mxs)` → double: the asymmetric distance
  * `Σ_d (p_d − (mn_d + (c_d + 0.5)·Δ_d/256))²` accumulated
  * LEFT-TO-RIGHT in double — bit-identical to the unrolled 64-term
  * reconstruction chain ([[graft.operators.Similarity.sq8DistComposed]])
  * and the oracle's term chain.
  *
  * Why native (SURVEY.md §7.6 escalation rule, the [[SubL2]] precedent):
  * the composed formulation is 64 CASE/floor expressions for the encode
  * plus a 64-term reconstruction reduce for every scored pair — the same
  * giant-expression shape whose PQ twin measured 2–4× slower through
  * analysis + Janino until `sub_l2` collapsed it. Each kernel is ONE
  * Catalyst node with a 4-instruction loop body, kept inside whole-stage
  * codegen; batch encode, batch scorer, and the streaming gate all call
  * the SAME node, so the paths cannot drift.
  *
  * Null semantics mirror the composed chains: NULL result if any input
  * array is NULL or the quantizer halves disagree in length; per
  * dimension, a NULL mn/mx slot yields a NULL code (the CASE's
  * null-condition falls through to NULL arithmetic), Δ = 0 yields code 0
  * WITHOUT reading v (the WHEN branch), and a NULL v slot yields a NULL
  * code; any NULL slot reaching the distance nulls the whole sum. A
  * vector shorter than the quantizer yields NULL (total semantics — the
  * composed `element_at` would raise under ANSI instead; unreachable by
  * construction since ranges derive from the same corpus geometry).
  */
object Sq8 {
  /** Encode; null per the scaladoc contract. */
  def codesOrNull(v: ArrayData, mns: ArrayData, mxs: ArrayData): ArrayData = {
    val len = mns.numElements()
    if (mxs.numElements() != len || v.numElements() < len) return null
    val out = new Array[Any](len)
    var d = 0
    while (d < len) {
      if (mns.isNullAt(d) || mxs.isNullAt(d)) {
        out(d) = null
      } else {
        val mn = mns.getFloat(d).toDouble
        val delta = mxs.getFloat(d).toDouble - mn
        if (delta == 0.0) out(d) = 0L
        else if (v.isNullAt(d)) out(d) = null
        else out(d) = java.lang.Long.valueOf(
          math.floor((v.getFloat(d).toDouble - mn) / delta * 255.0).toLong)
      }
      d += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric distance; boxed so a null slot can yield null (the
    * [[VecDot.dotOrNull]] convention); JIT-scalarized in the hot loop. */
  def l2OrNull(p: ArrayData, codes: ArrayData, mns: ArrayData,
      mxs: ArrayData): java.lang.Double = {
    val len = mns.numElements()
    if (mxs.numElements() != len || codes.numElements() < len ||
      p.numElements() < len) return null
    var d = 0; var acc = 0.0
    while (d < len) {
      if (p.isNullAt(d) || codes.isNullAt(d) || mns.isNullAt(d) ||
        mxs.isNullAt(d)) return null
      val mn = mns.getFloat(d).toDouble
      val delta = mxs.getFloat(d).toDouble - mn
      val rec = mn + (codes.getLong(d) + 0.5) * delta / 256.0
      val diff = p.getFloat(d).toDouble - rec
      acc += diff * diff
      d += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

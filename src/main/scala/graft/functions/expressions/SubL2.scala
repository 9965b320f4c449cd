package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Squared L2 distance between a `len`-dim window of two float vectors —
  * `Σ (a[aOff+i] - b[bOff+i])²` for i in 0..len-1 (offsets 0-based),
  * accumulated LEFT-TO-RIGHT in double: bit-identical to the unrolled
  * Column chain
  * `((a₁-b₁)² + (a₂-b₂)²) + …` built from `element_at(..).cast(double)`
  * terms (equivalence-pinned in ExpressionSpec) and to the oracle's
  * identical term-chain SQL, so every ADC/encode distance hashes the
  * same in any engine.
  *
  * Why a native expression (SURVEY.md §7.6 escalation rule, the
  * [[VecDot]] precedent): PQ encode/ADC plans instantiate this window
  * per SUBSPACE — m=8 distance columns of dsub=8 unrolled terms each,
  * and the subspace-dispatched variants multiply that by an m-branch
  * CASE — so a single trained-IVF-PQ query carried thousands of Catalyst
  * nodes through analysis, optimization, and Janino for what is a
  * 3-instruction loop body. The kernel collapses each distance column to
  * ONE node with runtime offsets (the m-branch CASE dissolves into
  * `sub·dsub` arithmetic), shrinking plan size, generated-code size, and
  * compile time across the whole ANN family while keeping the arithmetic
  * inside whole-stage codegen.
  *
  * Null semantics mirror the composed chain: NULL if either array is
  * NULL, any offset/len input is NULL, or any ACCESSED element slot is
  * NULL. A window reaching beyond either array's length yields NULL
  * (the composed chain's `element_at` would raise under ANSI instead —
  * unreachable by construction: every caller derives offsets from the
  * vector's own m·dsub geometry; the total variant is safer under
  * speculative/reordered evaluation).
  */
object SubL2 {
  /** Boxed so a null element can yield null (the [[VecDot.dotOrNull]]
    * convention); JIT-scalarized in the hot loop. */
  def l2OrNull(a: ArrayData, b: ArrayData, aOff: Int, bOff: Int,
      len: Int): java.lang.Double = {
    // Long-widened bounds: sub_l2 is registered session-wide, so hostile
    // SQL offsets near Int.MaxValue must not wrap the sum negative and
    // slip past the guard into unchecked UnsafeArrayData reads.
    if (aOff < 0 || bOff < 0 || len < 0 ||
      aOff.toLong + len > a.numElements() || bOff.toLong + len > b.numElements()) return null
    var i = 0; var acc = 0.0
    while (i < len) {
      if (a.isNullAt(aOff + i) || b.isNullAt(bOff + i)) return null
      val d = a.getFloat(aOff + i).toDouble - b.getFloat(bOff + i).toDouble
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** K=16 MinHash minima over a pre-hashed shingle array in ONE pass:
  * element k = min over the array of (a_k·h + b_k) mod P, with the same
  * fixed-seed coefficients as [[graft.functions.Hashing]] (shared
  * constants, so values are identical to the per-permutation
  * `array_min(transform(...))` formulation, the explode+groupBy
  * aggregation, and the oracle SQL).
  *
  * Why a native expression (SURVEY.md §7.6 escalation rule): the
  * higher-order-function formulation runs 16 interpreted transform passes
  * per row (one boxed lambda call per element per permutation) — measured
  * 1.5× slower than even the explode+groupBy shuffle at sf0.1. This
  * kernel is one primitive loop over the array computing all 16 minima,
  * stays in whole-stage codegen, and keeps the signature per-row — ZERO
  * shuffle, available inline on a scan or a stream.
  *
  * Empty input yields an empty result (callers filter `size(toks) >= 3`
  * first, matching the aggregation shape which emits no row for an empty
  * group). An ALL-NULL non-empty input yields the same empty result by
  * convention: it carries zero usable shingles, exactly like an empty
  * array, so both degenerate shapes collapse to one sentinel. A
  * per-permutation `array_min` composition would instead produce 16 null
  * minima, but this expression declares `containsNull = false`, and no
  * caller can observe the difference: every consumer filters
  * `size(toks) >= 3` first and hashes non-null tokens, so null slots
  * never reach the kernel in a query path. The convention is pinned in
  * ExpressionSpec's edge-semantics test.
  */
object MinhashSig {
  private val P = graft.functions.Hashing.P
  private val A = graft.functions.Hashing.aCoef.toArray
  private val B = graft.functions.Hashing.bCoef.toArray
  private val K = graft.functions.Hashing.K

  def sig(hps: ArrayData): ArrayData = {
    val n = hps.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val mins = Array.fill(K)(Long.MaxValue)
    var i = 0
    var nonNull = 0
    while (i < n) {
      // skip null slots (array_min skips nulls too; reading one via
      // getLong would hash a phantom h=0 into every permutation)
      if (!hps.isNullAt(i)) {
        nonNull += 1
        val h = hps.getLong(i)
        var k = 0
        while (k < K) {
          val v = (A(k) * h + B(k)) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    // all-null collapses to the empty-array sentinel (see scaladoc)
    if (nonNull == 0) return new GenericArrayData(Array.emptyLongArray)
    new GenericArrayData(mins)
  }
}

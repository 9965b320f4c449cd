package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Dot product of two float vectors, accumulated left-to-right in double —
  * bit-identical to the builtin-composed fold
  * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)), 0.0, _ + _)`
  * (equivalence-tested in ExpressionSpec) and to the oracle's unrolled
  * `a[1]*b[1] + a[2]*b[2] + …` SQL, so every cosine the engine emits hashes
  * the same in any engine.
  *
  * Why a native expression (SURVEY.md §7.6 escalation rule): the composed
  * form allocates an intermediate array per row pair (`zip_with`) and runs
  * the fold through a non-codegen'd lambda interpreter — in a within-cluster
  * pairwise pass (SemDeDup, q83) that is millions of allocations. This
  * kernel is a zero-allocation primitive loop that stays inside whole-stage
  * codegen.
  *
  * Inputs are equal-length array<float>; elements beyond the shorter length
  * are ignored (the engine only ever compares same-dimension vectors).
  */
object VecDot {
  /** Boxed so a null element can yield null, exactly like the composed
    * fold (a null slot nulls the zip_with product, which nulls the
    * aggregate sum). The box is one allocation per CALL, dwarfed by the
    * 64-float loop it wraps, and typically scalarized by the JIT. */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var acc = 0.0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

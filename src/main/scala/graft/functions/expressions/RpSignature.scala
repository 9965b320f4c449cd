package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** 8-bit signed-random-projection LSH signature of a float-vector column:
  * bit j = sign(v · h_j) over the fixed seeded hyperplane set
  * [[RpSignature.planes]].
  *
  * Why a native expression (SURVEY.md §7.6 escalation rule): the Column
  * formulation unrolls to 8 planes × 64 dims = 512 `element_at` terms —
  * one giant expression tree that bloats the generated method toward the
  * JVM 64 KB limit as dims grow (and falls back to interpreted eval when
  * it trips). A loop in a static kernel is O(1) generated-code size at any
  * dimensionality and stays inside whole-stage codegen
  * (codegen-asserted + bit-equivalence-tested in ExpressionSpec).
  *
  * Accumulation is the same left-to-right double fold as the unrolled
  * Column tree and the DuckDB oracle's explicit sum chain, so all three
  * produce bit-identical signatures.
  */
object RpSignature {
  /** Fixed random hyperplanes: 8 × 64, seeded — the same literals are
    * embedded in the DuckDB oracle SQL (Oracles.rpSigSql). */
  val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(13)
    Array.fill(8)(Array.fill(64)((rnd.nextInt(2001) - 1000) / 1000.0))
  }

  def sign(v: ArrayData): Long = {
    val n = v.numElements()
    val d = if (n < 64) n else 64
    // a null slot folds every plane's dot product to null in the unrolled
    // Column formulation; `when(null > 0)` is false there, so ALL bits
    // come out clear — mirror that exactly
    var i = 0
    while (i < d) { if (v.isNullAt(i)) return 0L; i += 1 }
    var sig = 0L
    var j = 0
    while (j < planes.length) {
      val h = planes(j)
      var acc = 0.0
      i = 0
      while (i < d) { acc += v.getFloat(i).toDouble * h(i); i += 1 }
      // NaN sets the bit: both Spark SQL and DuckDB order NaN above every
      // number, so their `acc > 0.0` is true where Java's is false
      if (acc > 0.0 || java.lang.Double.isNaN(acc)) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** The j-th hyperplane's raw projection v · h_j (the MARGIN whose sign is
  * [[RpSignature.sign]]'s bit j) — same planes, same left-to-right double
  * fold, so `rp_margin64(v, j) > 0` reproduces signature bit j exactly and
  * the margin doubles replay bit-identically in the oracle's unrolled sum
  * chain. Split from the signature kernel because multi-probe LSH (q119)
  * ranks bits by |margin|: the composed Column form was 8 planes × 64
  * element_at terms per probe row — the exact tree-bloat the signature
  * kernel was introduced to remove, reintroduced via its own audit column.
  *
  * Null semantics mirror the composed chain (NOT [[RpSignature.sign]]'s
  * all-bits-clear fold): a null slot nulls the product term, which nulls
  * the whole margin → NULL. A vector shorter than 64 dims also yields
  * NULL (the composed chain's element_at would raise under ANSI;
  * unreachable — the engine only signs 64-dim embeddings). */
object RpMargin {
  def margin(v: ArrayData, j: Int): java.lang.Double = {
    if (j < 0 || j >= RpSignature.planes.length || v.numElements() < 64)
      return null
    val h = RpSignature.planes(j)
    var i = 0
    while (i < 64) { if (v.isNullAt(i)) return null; i += 1 }
    var acc = 0.0
    i = 0
    while (i < 64) { acc += v.getFloat(i).toDouble * h(i); i += 1 }
    java.lang.Double.valueOf(acc)
  }
}

package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData

/** `ngram_rep(tokh array<long>, n int)` — within-document n-gram
  * repetition statistics over a token-hash array:
  * `struct<n_grams, top_occ, dup_occ>` where `n_grams` is the number of
  * n-gram positions (max(len−n+1, 0)), `top_occ` the occurrence count
  * of the single most frequent n-gram, and `dup_occ` the number of
  * positions whose n-gram occurs more than once — Gopher's §A1.2
  * repetition signals (q143). Gram identity is the chained XXH64 of
  * the n token hashes with Spark's seed (bit-identical to the
  * `xxhash64(tokh[i], …, tokh[i+n−1])` Column the composed formulation
  * used, including the null-slot skip — equality classes match the
  * gram strings' unless two grams collide in 64 bits, and only the
  * CLASSES surface: the output is pure counts, which the DuckDB oracle
  * reproduces from the raw gram strings).
  *
  * Why a native expression (SURVEY.md §7.6 escalation rule): the
  * composed per-row kernel was sort_array + a higher-order `aggregate`
  * fold rebuilding a 4-field struct per element, ×3 gram sizes per
  * row — per-element lambda/struct machinery on the suite's hottest
  * zero-shuffle scan. This node rolls gram hashing, a primitive
  * `Arrays.sort`, and the run-length scan into one loop per (row, n).
  *
  * NULL result only for a NULL array or non-positive/NULL n; a NULL
  * token-hash slot passes the seed through unchanged (the Spark
  * xxhash64 convention the composed chain had).
  */
object NgramRep {
  def statsOrNull(tokh: ArrayData, n: Int): InternalRow = {
    if (n <= 0) return null
    val m = tokh.numElements()
    val nGrams = math.max(m - n + 1, 0)
    if (nGrams == 0) return InternalRow(0L, 0L, 0L)
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = 42L // Spark's xxhash64 seed
      var j = 0
      while (j < n) {
        if (!tokh.isNullAt(i + j)) h = XXH64.hashLong(tokh.getLong(i + j), h)
        j += 1
      }
      grams(i) = h
      i += 1
    }
    java.util.Arrays.sort(grams)
    // one linear run-length pass: a run of length r >= 2 contributes r
    // to dup_occ; top_occ is the longest run
    var best = 1L; var run = 1L; var dup = 0L
    i = 1
    while (i < nGrams) {
      if (grams(i) == grams(i - 1)) {
        run += 1
        dup += (if (run == 2) 2L else 1L)
        if (run > best) best = run
      } else run = 1
      i += 1
    }
    InternalRow(nGrams.toLong, best, dup)
  }
}

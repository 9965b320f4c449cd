package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Count of common elements between two SORTED, DISTINCT long arrays via a
  * linear two-pointer merge — the inner kernel of exact set-similarity
  * (Jaccard / overlap) over hashed n-gram sets.
  *
  * Why a native expression (SURVEY.md §7.6 escalation rule): the builtin
  * `size(array_intersect(a, b))` rebuilds a hash set of one side for every
  * row — in an all-pairs near-dup verify that is O(pairs · n) hash
  * insertions and allocations. The merge needs zero allocation and no
  * hashing: O(n1 + n2) branch-predictable long compares per pair, and it
  * stays inside whole-stage codegen.
  *
  * Inputs MUST be sorted ascending and duplicate-free (produce them with
  * `array_sort(array_distinct(...))`); the result is then identical to
  * `size(array_intersect(a, b))` (equivalence-tested in ExpressionSpec).
  */
object SortedIntersectCount {
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      // skip null slots: reading one via getLong would yield 0 and could
      // FALSE-MATCH a genuine 0 hash on the other side (callers build
      // these arrays from non-null hashes, so this is dirty-data armor)
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { c += 1L; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    c
  }
}

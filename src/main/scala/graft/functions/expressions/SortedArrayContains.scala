package graft.functions.expressions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Membership test against a SORTED, DISTINCT array via binary search —
  * the exact-probe kernel of the streaming span gate
  * ([[graft.streaming.StreamOps.spanGateStream]]), where each candidate
  * span hash surviving the Bloom sketch is checked against the broadcast
  * dup-span index.
  *
  * Why a native expression (SURVEY.md §7.6 escalation rule): the builtin
  * `array_contains` is a linear scan — fine for small arrays, but the
  * dup-span index is corpus-sized (one element per duplicated span), so
  * the gate's worst row pays O(|index|) compares per candidate span.
  * Binary search makes that log₂|index|: at a 10⁷-span index, ~23
  * compares instead of 10⁷. Zero allocation, stays inside whole-stage
  * codegen.
  *
  * The array MUST be sorted ascending, duplicate-free, and null-free
  * (produce it with `sort_array(collect_list(...))` — collect_list drops
  * nulls); the result is then identical to `array_contains`
  * (equivalence-tested in ExpressionSpec). As dirty-data armor, a null
  * slot encountered mid-search falls back to a null-skipping linear scan
  * rather than corrupting the search invariant. String order is
  * UTF8String's unsigned-byte compare — the same ordering `sort_array`
  * uses, so the two can never disagree on placement.
  */
object SortedArrayContains {
  def containsStr(arr: ArrayData, v: UTF8String): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (arr.isNullAt(mid)) return linearStr(arr, v)
      val c = arr.getUTF8String(mid).compareTo(v)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def containsLong(arr: ArrayData, v: Long): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (arr.isNullAt(mid)) return linearLong(arr, v)
      val x = arr.getLong(mid)
      if (x == v) return true
      else if (x < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  private def linearStr(arr: ArrayData, v: UTF8String): Boolean = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && arr.getUTF8String(i) == v) return true
      i += 1
    }
    false
  }

  private def linearLong(arr: ArrayData, v: Long): Boolean = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) && arr.getLong(i) == v) return true
      i += 1
    }
    false
  }
}

package graft.functions.expressions

import java.security.MessageDigest
import org.apache.spark.unsafe.types.UTF8String

/** Thread-local SHA-256 kernel of the cross-engine document hash
  * `sha256_prefix32`, shared by interpreted eval and generated code (the
  * same pattern Spark's own hash expressions use for their static
  * helpers).
  *
  * Why a native expression (SURVEY.md §7.6 "upgrade to a codegen
  * Expression only if profiling demands" — profiling did): this sits in
  * the inner loop of MinHash / SimHash / fingerprinting over every
  * shingle of every document. Semantics are identical to the
  * builtin-composed version (equivalence-tested in ExpressionSpec), so
  * the DuckDB oracle is unchanged. */
object Sha256Prefix32 {
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("SHA-256"))

  /** First 4 bytes of sha256(utf8 bytes) as an unsigned big-endian long in
    * [0, 2^32) — bit-identical to
    * `conv(substring(sha2(s, 256), 1, 8), 16, 10)` but with no hex-string
    * round trip. */
  def hash(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hashing.
  *
  * Spark's builtin `hash`/`xxhash64` have no DuckDB equivalent, so every
  * hash the oracle must reproduce is derived from SHA-256 (identical bytes
  * in any engine): H(s) = first 8 hex chars of sha256(s) as a uint32-range
  * long. MinHash permutations are universal hashes over H modulo a Mersenne
  * prime; the (a, b) coefficients are generated once from a fixed seed and
  * embedded as literals in both the Spark plan and the oracle SQL.
  *
  * Scale note: sha2 is a codegen'd builtin; the whole hash pipeline stays
  * inside whole-stage codegen (no UDF, no JVM boxing per row).
  */
object Hashing {

  /** Mersenne prime 2^31 − 1: modulus for MinHash universal hashing. */
  val P: Long = 2147483647L

  /** Rolling-hash base (a prime > any token hash contribution per step). */
  val B: Long = 1000003L

  /** MinHash permutation count (4 bands × 4 rows). */
  val K: Int = 16
  val Bands: Int = 4
  val RowsPerBand: Int = 4

  /** Fixed-seed universal-hash coefficients, identical in plan + oracle. */
  val (aCoef, bCoef): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val rnd = new scala.util.Random(7)
    val a = IndexedSeq.fill(K)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = IndexedSeq.fill(K)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** H(s): first 32 bits of sha256 as a long in [0, 2^32). Uses the native
    * codegen'd [[graft.functions.expressions.Sha256Prefix32]] kernel
    * (declared in [[graft.GraftExtensions]]) — no hex-string round trip
    * in the MinHash/SimHash inner loop. */
  def h32(c: Column): Column = call_function("sha256_prefix32", c)

  /** Builtin-composed equivalent (slower; kept as the portable fallback
    * and the equivalence-test reference). */
  def h32Composed(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 8), 16, 10).cast("long")

  /** H(s) mod P — the MinHash input. */
  def h32p(c: Column): Column = h32(c) % P

  /** i-th MinHash permutation applied to a pre-modded hash column. */
  def perm(i: Int, hp: Column): Column =
    (lit(aCoef(i)) * hp + lit(bCoef(i))) % P
}

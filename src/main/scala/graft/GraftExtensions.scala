package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import graft.functions.expressions.{KernelExpr, KernelFn, KernelSig, MinhashSig, NgramRep, RpMargin, RpSignature, Sha256Prefix32, SortedArrayContains, SortedIntersectCount, Sq8, SubL2, VecDot, VecRangeAgg}

/** Session extensions: registers the engine's native expressions.
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (done by [[graft.Session]], which every tool and the test harness use). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private type Expr = org.apache.spark.sql.catalyst.expressions.Expression

  /** Registers `name` with an arity-checked builder: a wrong argument
    * count must fail analysis with a real message, not IndexOutOfBounds
    * — and extra arguments must never be silently dropped. */
  private def register(ext: SparkSessionExtensions, name: String, cls: Class[_], n: Int)(
      build: Seq[Expr] => Expr): Unit =
    ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expr]) => {
        require(children.size == n, s"$name expects $n argument(s), got ${children.size}")
        build(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.kernels.foreach { fn =>
      fn.sigs.foreach(_.javaMethod)
      register(ext, fn.name, classOf[KernelExpr], fn.arity)(KernelExpr(fn, _))
    }
    register(ext, "vec_range", classOf[VecRangeAgg], 2)(VecRangeAgg(_))
  }
}

object GraftExtensions {
  private val floats: DataType = ArrayType(FloatType)
  private val longs: DataType = ArrayType(LongType)

  /** Every scalar native function, declared once: name, result type,
    * whether the kernel itself may return null, and each accepted
    * signature with the kernel method it calls. */
  private val kernels: Seq[KernelFn] = Seq(
    KernelFn("sha256_prefix32", LongType, orNull = false,
      Seq(KernelSig(Sha256Prefix32, "hash", StringType))),
    KernelFn("sorted_intersect_count", LongType, orNull = false,
      Seq(KernelSig(SortedIntersectCount, "count", longs, longs))),
    KernelFn("sorted_array_contains", BooleanType, orNull = false, Seq(
      KernelSig(SortedArrayContains, "containsStr", ArrayType(StringType), StringType),
      KernelSig(SortedArrayContains, "containsLong", longs, LongType))),
    KernelFn("minhash_sig16", ArrayType(LongType, containsNull = false), orNull = false,
      Seq(KernelSig(MinhashSig, "sig", longs))),
    KernelFn("vec_dot", DoubleType, orNull = true,
      Seq(KernelSig(VecDot, "dotOrNull", floats, floats))),
    KernelFn("sub_l2", DoubleType, orNull = true,
      Seq(KernelSig(SubL2, "l2OrNull", floats, floats, IntegerType, IntegerType, IntegerType))),
    KernelFn("sq8_codes", ArrayType(LongType, containsNull = true), orNull = true,
      Seq(KernelSig(Sq8, "codesOrNull", floats, floats, floats))),
    KernelFn("sq8_l2", DoubleType, orNull = true,
      Seq(KernelSig(Sq8, "l2OrNull", floats, longs, floats, floats))),
    KernelFn("ngram_rep", StructType(Seq(
        StructField("n_grams", LongType, nullable = false),
        StructField("top_occ", LongType, nullable = false),
        StructField("dup_occ", LongType, nullable = false))), orNull = true,
      Seq(KernelSig(NgramRep, "statsOrNull", longs, IntegerType))),
    KernelFn("rp_signature64", LongType, orNull = false,
      Seq(KernelSig(RpSignature, "sign", floats))),
    KernelFn("rp_margin64", DoubleType, orNull = true,
      Seq(KernelSig(RpMargin, "margin", floats, IntegerType))))
}

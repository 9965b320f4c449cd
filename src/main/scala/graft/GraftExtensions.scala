package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.expressions.{MinhashSigExpr, NgramRepExpr, RpMarginExpr, RpSignatureExpr, Sha256Prefix32Expr, SortedArrayContainsExpr, SortedIntersectCountExpr, Sq8CodesExpr, Sq8L2Expr, SubL2Expr, VecDotExpr, VecRangeAgg}

/** Session extensions: registers the engine's native expressions.
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (done by [[graft.Session]], which every tool and the test harness use). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private type Expr = org.apache.spark.sql.catalyst.expressions.Expression

  /** Arity-checked builder: a wrong argument count must fail analysis
    * with a real message, not IndexOutOfBounds — and extra arguments
    * must never be silently dropped. */
  private def arity(name: String, n: Int)(build: Seq[Expr] => Expr): Seq[Expr] => Expr =
    children => {
      require(children.size == n,
        s"$name expects $n argument(s), got ${children.size}")
      build(children)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("sha256_prefix32"),
      new ExpressionInfo(classOf[Sha256Prefix32Expr].getName, "sha256_prefix32"),
      arity("sha256_prefix32", 1)(c => Sha256Prefix32Expr(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCountExpr].getName, "sorted_intersect_count"),
      arity("sorted_intersect_count", 2)(c => SortedIntersectCountExpr(c.head, c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_array_contains"),
      new ExpressionInfo(classOf[SortedArrayContainsExpr].getName, "sorted_array_contains"),
      arity("sorted_array_contains", 2)(c => SortedArrayContainsExpr(c.head, c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig16"),
      new ExpressionInfo(classOf[MinhashSigExpr].getName, "minhash_sig16"),
      arity("minhash_sig16", 1)(c => MinhashSigExpr(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
      arity("vec_dot", 2)(c => VecDotExpr(c.head, c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("sub_l2"),
      new ExpressionInfo(classOf[SubL2Expr].getName, "sub_l2"),
      arity("sub_l2", 5)(c => SubL2Expr(c))))
    ext.injectFunction((
      new FunctionIdentifier("sq8_codes"),
      new ExpressionInfo(classOf[Sq8CodesExpr].getName, "sq8_codes"),
      arity("sq8_codes", 3)(c => Sq8CodesExpr(c))))
    ext.injectFunction((
      new FunctionIdentifier("sq8_l2"),
      new ExpressionInfo(classOf[Sq8L2Expr].getName, "sq8_l2"),
      arity("sq8_l2", 4)(c => Sq8L2Expr(c))))
    ext.injectFunction((
      new FunctionIdentifier("ngram_rep"),
      new ExpressionInfo(classOf[NgramRepExpr].getName, "ngram_rep"),
      arity("ngram_rep", 2)(c => NgramRepExpr(c))))
    ext.injectFunction((
      new FunctionIdentifier("vec_range"),
      new ExpressionInfo(classOf[VecRangeAgg].getName, "vec_range"),
      arity("vec_range", 2)(c => VecRangeAgg(c))))
    ext.injectFunction((
      new FunctionIdentifier("rp_signature64"),
      new ExpressionInfo(classOf[RpSignatureExpr].getName, "rp_signature64"),
      arity("rp_signature64", 1)(c => RpSignatureExpr(c.head))))
    ext.injectFunction((
      new FunctionIdentifier("rp_margin64"),
      new ExpressionInfo(classOf[RpMarginExpr].getName, "rp_margin64"),
      arity("rp_margin64", 2)(c => RpMarginExpr(c.head, c(1)))))
  }
}

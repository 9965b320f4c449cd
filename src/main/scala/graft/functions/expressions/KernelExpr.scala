package graft.functions.expressions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** One argument list a native function accepts, and the static kernel
  * method it calls. `owner` is the kernel object's class name without
  * the `$`, i.e. the class holding the object's static forwarders — the
  * method the generated Java names directly. */
final case class KernelSig(owner: String, method: String, args: Seq[DataType]) {

  /** Looked up by the declared argument types' Java classes, so a
    * declaration that disagrees with its kernel's parameters fails the
    * first time the function is registered. Transient: `Method` is not
    * serializable, and executors look it up again. */
  @transient lazy val javaMethod: Method =
    Class.forName(owner).getMethod(method, args.map(CodeGenerator.javaClass): _*)

  /** Array element nullability is not part of a signature: the kernels
    * read every slot through `isNullAt`. */
  def accepts(types: Seq[DataType]): Boolean =
    types.size == args.size && args.zip(types).forall {
      case (ArrayType(want, _), ArrayType(got, _)) => want == got
      case (want, got) => want == got
    }

  override def toString: String = args.map(_.simpleString).mkString("(", ", ", ")")
}

object KernelSig {
  def apply(kernel: AnyRef, method: String, args: DataType*): KernelSig =
    KernelSig(kernel.getClass.getName.stripSuffix("$"), method, args)
}

/** A native SQL function: its name, its result type, the signatures it
  * accepts and whether its kernel may itself return null (`orNull`).
  * Without `orNull` the result is null only when an argument is. */
final case class KernelFn(name: String, dataType: DataType, orNull: Boolean,
    sigs: Seq[KernelSig]) {
  def arity: Int = sigs.head.args.size
}

/** The one Catalyst node behind every scalar native function (declared
  * in [[graft.GraftExtensions]]): a null-propagating call of the static
  * kernel method the arguments' signature names. Interpreted `eval`
  * invokes that method reflectively; the generated Java calls it
  * directly, so whole-stage codegen stays unbroken. It prints as
  * `name(arg, …)`, like a builtin function. */
case class KernelExpr(fn: KernelFn, children: Seq[Expression]) extends Expression {

  @transient private lazy val sig: KernelSig =
    fn.sigs.find(_.accepts(children.map(_.dataType))).get

  override def checkInputDataTypes(): TypeCheckResult =
    if (fn.sigs.exists(_.accepts(children.map(_.dataType)))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${fn.name} accepts ${fn.sigs.mkString(" or ")}, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.orNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = fn.name
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.size)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try sig.javaMethod.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val call = s"${sig.owner}.${sig.method}(${evals.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable) {
      ev.copy(code = code"""
        ${evals.map(_.code).reduce(_ + _)}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    } else {
      // a kernel returning a primitive is assigned directly; a boxed or
      // object result is null-checked first (and unboxed if primitive)
      val store =
        if (!fn.orNull) s"${ev.isNull} = false;\n${ev.value} = $call;"
        else {
          val r = ctx.freshName("kernelResult")
          val unbox = if (CodeGenerator.isPrimitiveType(dataType)) s".${javaType}Value()" else ""
          s"""${CodeGenerator.boxedType(dataType)} $r = $call;
             |if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r$unbox; }""".stripMargin
        }
      // each argument is evaluated only when the ones before it are non-null
      val body = evals.zip(children).foldRight(store) { case ((e, c), inner) =>
        e.code.toString + ctx.nullSafeExec(c.nullable, e.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelExpr =
    copy(children = newChildren)
}

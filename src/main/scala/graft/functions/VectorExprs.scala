package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native codegen kernels for the embedding-vector hot path.
  *
  * The higher-order-function forms (`aggregate(zip_with(...))`) evaluate
  * interpreted — tens of ns per ELEMENT, with per-element lambda dispatch
  * and boxed accumulators. At 100 TB an ANN/near-dup pass evaluates a dot
  * product per candidate pair, so the kernel must be a tight primitive
  * loop inside whole-stage codegen, like this one.
  *
  * Value parity: each kernel is the SAME sequential left-fold the HOF form
  * computes (multiply per index, then accumulate in index order, doubles
  * throughout) — bit-identical IEEE results, so the DuckDB oracles that
  * reproduce the fold stay valid. Null semantics mirror `zip_with`'s
  * padding: mismatched lengths or a null element yield NULL.
  */
private[graft] abstract class VectorFoldExpr extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Single source of truth for the kernel: the static method's simple
    * name in [[VectorExprs]]. Codegen emits a call to it; interpreted
    * eval resolves the method reference from the SAME name, so the two
    * evaluation paths can never silently diverge. */
  protected def kernelName: String

  /** Fully-qualified static call for codegen (two ArrayData + two "is
    * float element" booleans, returns java.lang.Double). */
  protected final def kernel: String = s"graft.functions.VectorExprs.$kernelName"

  /** The same kernel as a method reference for interpreted eval. */
  protected final def kernelFn: (ArrayData, ArrayData, Boolean, Boolean) => java.lang.Double =
    kernelName match {
      case "dot" => VectorExprs.dot
      case "sqDist" => VectorExprs.sqDist
      case other => throw new IllegalStateException(s"unknown vector kernel $other")
    }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<float|double> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    kernelFn(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $res = $kernel($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)});
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res.doubleValue(); }
       """.stripMargin
    })
}

/** `sum_i a[i]*b[i]` as a primitive loop (cosine / projection kernel). */
case class DotProductExpr(left: Expression, right: Expression) extends VectorFoldExpr {
  override protected def kernelName: String = "dot"
  override def prettyName: String = "graft_vec_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sum_i (a[i]-b[i])^2` as a primitive loop (KMeans assignment kernel). */
case class SqDistExpr(left: Expression, right: Expression) extends VectorFoldExpr {
  override protected def kernelName: String = "sqDist"
  override def prettyName: String = "graft_vec_sqdist"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorExprs {

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Sequential-fold dot product; NULL on length mismatch or null element
    * (the zip_with padding semantics). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elem(a, i, aFloat) * elem(b, i, bFloat)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Sequential-fold squared euclidean distance; same null semantics. */
  def sqDist(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = elem(a, i, aFloat) - elem(b, i, bFloat)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  val DotName = "graft_vec_dot"
  val SqDistName = "graft_vec_sqdist"

  /** Registers on the active session and emits the native call; without an
    * active session (column built outside a session thread) falls back to
    * the identical-value interpreted fold. */
  private def nativeCall(name: String, a: Column, b: Column): Column =
    SparkSession.getActiveSession match {
      case Some(s) =>
        GraftFunctions.ensureRegistered(s)
        call_function(name, a, b)
      case None =>
        import org.apache.spark.sql.functions.{aggregate, lit, zip_with}
        val prods =
          if (name == DotName)
            zip_with(a, b, (x, y) => x.cast("double") * y.cast("double"))
          else
            zip_with(a, b, (x, y) =>
              (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double")))
        aggregate(prods, lit(0.0), (acc, v) => acc + v)
    }

  def dotNative(a: Column, b: Column): Column = nativeCall(DotName, a, b)
  def sqDistNative(a: Column, b: Column): Column = nativeCall(SqDistName, a, b)
}

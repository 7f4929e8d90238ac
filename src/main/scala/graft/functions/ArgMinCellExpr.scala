package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types._

/** Native argmin-cell assignment for IVF/KMeans: the nearest centroid
  * (squared euclidean) out of a PLAN-TIME LITERAL centroid table.
  *
  * The column-expression form folds a struct accumulator over the cell
  * array with an interpreted lambda per cell — nCells interpreted steps
  * per row, the dominant cost of assigning a large corpus to cells. Here
  * the centroid literal is decoded ONCE per executor into a primitive
  * double[][] (a codegen reference object), and assignment is two nested
  * primitive loops inside whole-stage codegen.
  *
  * Value parity with the fold ([[graft.operators.Similarity]]): distances
  * accumulate in the same index order, strict `<` improvement keeps the
  * LOWEST cell on ties, and NULL vectors/elements yield NULL.
  */
case class ArgMinCellExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(DoubleType, _), _))
        if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float|double>, array<array<double>> literal), got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def leftIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The literal centroid table as primitive rows — decoded once per
    * expression instance (per executor after serialization). */
  @transient private lazy val matrix: Array[Array[Double]] = {
    val ad = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray)
  }

  override def nullSafeEval(vec: Any, unused: Any): Any =
    ArgMinCellExpr.argMin(vec.asInstanceOf[ArrayData], matrix, leftIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centMatrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val res = ctx.freshName("cell")
      s"""
         |java.lang.Integer $res = graft.functions.ArgMinCellExpr.argMin($v, $m, $leftIsFloat);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res.intValue(); }
       """.stripMargin
    })
  }

  override def prettyName: String = ArgMinCellExpr.FunctionName

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ArgMinCellExpr {

  /** Static kernel: nearest cell by squared euclidean, ascending scan,
    * strict improvement (ties keep the lower cell); NULL on a null
    * element, a dimension mismatch, an EMPTY centroid table, or when NO
    * distance ever improves on the sentinel (NaN elements, infinite
    * overflow) — the same cases the HOF fallback folds to NULL, so
    * active-session and no-session paths agree
    * ([[graft.operators.Similarity]] additionally rejects an empty table
    * at operator entry). */
  def argMin(vec: ArrayData, matrix: Array[Array[Double]], isFloat: Boolean): java.lang.Integer = {
    if (matrix.length == 0) return null
    val dim = vec.numElements()
    var best = Double.MaxValue
    var cell = Int.MaxValue
    var c = 0
    while (c < matrix.length) {
      val row = matrix(c)
      if (row.length != dim) return null
      var d = 0.0
      var i = 0
      while (i < dim) {
        if (vec.isNullAt(i)) return null
        val x = (if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)) - row(i)
        d += x * x
        i += 1
      }
      if (d < best) { best = d; cell = c }
      c += 1
    }
    if (cell == Int.MaxValue) null else java.lang.Integer.valueOf(cell)
  }

  val FunctionName = "graft_argmin_cell"

  /** Column API: (vec, centroid rows ordered by cell id). Caller ensures
    * registration ([[GraftFunctions.ensureRegistered]]). */
  def argMinCol(vec: Column, centroids: Seq[Seq[Double]]): Column =
    call_function(FunctionName, vec,
      array(centroids.map(row => array(row.map(lit): _*)): _*))
}

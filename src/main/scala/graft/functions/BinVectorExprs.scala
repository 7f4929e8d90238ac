package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Native kernels over the sparse binned-spectrum representation
  * (`array<struct<bin:long, w:double>>`, sorted by bin asc — the
  * [[BinPeaksExpr]] output contract). r15: the spectra-cluster scoring
  * chain evaluated these as higher-order functions (`aggregate` folds,
  * an `array_sort` lambda comparator, a per-pair `map_from_entries`
  * rebuild + `try_element_at` probes), all CodegenFallback — interpreted
  * lambda dispatch per element per pair. Each kernel is one tight merge
  * or selection pass inside whole-stage codegen. */
object BinVectorExprs {

  private[functions] val BinnedType: DataType = BinPeaksExpr.OutType

  private def isBinned(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(a, b)), _) =>
      a.dataType == LongType && b.dataType == DoubleType
    case _ => false
  }

  /** Dot product of two bin-sorted sparse vectors by linear merge.
    *
    * Float-parity contract with the HOF form it replaces
    * (`aggregate(ba, 0.0, (acc, e) -> acc + e.w *
    * coalesce(try_element_at(map_from_entries(bb), e.bin), 0.0))`): the
    * fold visits `left`'s elements in array (= bin asc) order and adds
    * `wa * wb` for bins present in `right`; a missing bin added
    * `wa * 0.0 = +0.0` in the old form, which is a floating-point
    * identity on the non-negative partial sums this chain produces
    * (weights are sums of positive intensities), so skipping it is
    * bit-identical. Self-application `bin_dot(x, x)` is the squared L2
    * norm with the same fold order as the old
    * `aggregate(binned, 0.0, acc + w*w)`. */
  case class SortedBinDotExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = left.nullable || right.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      if (isBinned(left.dataType) && isBinned(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<struct<bin:bigint, w:double>> " +
          s"inputs, got ${left.dataType.sql} and ${right.dataType.sql}")

    override def nullSafeEval(a: Any, b: Any): Any =
      BinVectorExprs.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.BinVectorExprs.dot($a, $b)")

    override def prettyName: String = DotName

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** The `n` strongest bins of a binned vector by (w desc, bin asc) —
    * the candidate-key selection order, identical to [[BinPeaksExpr]]'s
    * own topK order and to the `array_sort(binned, (w desc, bin asc))`
    * + `transform(slice(_, 1, n), e -> e.bin)` chain it replaces
    * (same bins, same emit order). */
  case class TopBinsExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = left.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (dt, IntegerType) if isBinned(dt) && right.foldable =>
          val n = right.eval()
          if (n == null || n.asInstanceOf[Int] < 1)
            TypeCheckResult.TypeCheckFailure(
              s"$prettyName: n must be a non-null int literal >= 1, got $n")
          else TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<struct<bin:bigint, w:double>>, int " +
            s"literal), got ${left.dataType.sql} and ${right.dataType.sql}")
      }

    override def nullSafeEval(a: Any, n: Any): Any =
      BinVectorExprs.topBins(a.asInstanceOf[ArrayData], n.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, n) =>
        s"graft.functions.BinVectorExprs.topBins($a, $n)")

    override def prettyName: String = TopBinsName

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Merge-dot kernel shared by interpreted eval and generated code.
    * Both inputs sorted by bin asc (BinPeaksExpr contract). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var acc = 0.0
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2)
      val rb = b.getStruct(j, 2)
      val binA = ra.getLong(0)
      val binB = rb.getLong(0)
      if (binA == binB) {
        acc += ra.getDouble(1) * rb.getDouble(1)
        i += 1; j += 1
      } else if (binA < binB) i += 1
      else j += 1
    }
    acc
  }

  /** Top-n bins by (w desc, bin asc). Arrays are <= topPeaks entries, so
    * a full sort of a copied index is cheap and branch-free. */
  def topBins(a: ArrayData, n: Int): ArrayData = {
    val len = a.numElements()
    val entries = new Array[(Long, Double)](len)
    var i = 0
    while (i < len) {
      val r = a.getStruct(i, 2)
      entries(i) = (r.getLong(0), r.getDouble(1))
      i += 1
    }
    java.util.Arrays.sort(entries, (x: (Long, Double), y: (Long, Double)) => {
      val c = java.lang.Double.compare(y._2, x._2)
      if (c != 0) c else java.lang.Long.compare(x._1, y._1)
    })
    val keep = math.min(n, len)
    val out = new Array[Any](keep)
    var k = 0
    while (k < keep) { out(k) = entries(k)._1; k += 1 }
    new GenericArrayData(out)
  }

  val DotName = "graft_bin_dot"
  val TopBinsName = "graft_top_bins"

  def binDotCol(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function(DotName, a, b)
  }

  def topBinsCol(spark: SparkSession, a: Column, n: Int): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function(TopBinsName, a, lit(n))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Native peak-binning kernel for spectra clustering: fragment m/z values
  * are discretised into fixed-width bins, per-bin intensities are summed,
  * and only the `topK` strongest bins survive — the standard sparse
  * binned-vector representation used by spectral clustering tools
  * (MaraCluster's fragment binning, falcon's vectorisation; reference
  * counterpart: the spectra handed to MaraCluster via the K3 MGF sink,
  * `submissions.nf:245-269`).
  *
  * One tight pass per spectrum inside whole-stage codegen — the
  * column-expression equivalent (explode + per-row map rebuild via
  * `aggregate`) is O(peaks²) per spectrum in interpreted lambda
  * dispatches; this is O(peaks + bins log bins).
  *
  * Semantics (the [[graft.operators.SpectraCluster]] contract):
  *  - bin = floor(mass / binWidth) as long; per-bin weight = sum of the
  *    peak intensities in array order (deterministic fold order);
  *  - peaks with a null/NaN/infinite mass or intensity, or intensity
  *    <= 0, are skipped;
  *  - the result keeps the `topK` bins by (weight desc, bin asc) and is
  *    returned sorted by bin asc as array<struct<bin:long, w:double>>;
  *  - mismatched masses/intensities lengths yield NULL (the caller must
  *    not silently truncate a corrupt spectrum — same policy as
  *    [[ArgMinCellExpr]] on dimension mismatch).
  */
case class BinPeaksExpr(
    first: Expression,
    second: Expression,
    third: Expression,
    fourth: Expression,
) extends QuaternaryExpression {

  override def dataType: DataType = BinPeaksExpr.OutType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), DoubleType, IntegerType)
          if third.foldable && fourth.foldable =>
        val bw = third.eval()
        val k = fourth.eval()
        if (bw == null || bw.asInstanceOf[Double] <= 0.0 ||
          !java.lang.Double.isFinite(bw.asInstanceOf[Double]))
          TypeCheckResult.TypeCheckFailure(s"$prettyName: binWidth must be a finite positive literal")
        else if (k == null || k.asInstanceOf[Int] <= 0)
          TypeCheckResult.TypeCheckFailure(s"$prettyName: topK must be a positive int literal")
        else TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<double>, array<double>, double literal, int literal), got " +
            s"${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}, ${fourth.dataType.sql}")
    }

  override def nullSafeEval(masses: Any, intens: Any, bw: Any, k: Any): Any =
    BinPeaksExpr.binTopK(
      masses.asInstanceOf[ArrayData], intens.asInstanceOf[ArrayData],
      bw.asInstanceOf[Double], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, i, bw, k) => {
      val res = ctx.freshName("binned")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.BinPeaksExpr.binTopK($m, $i, $bw, $k);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
       """.stripMargin
    })

  override def prettyName: String = BinPeaksExpr.FunctionName

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

object BinPeaksExpr {

  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("bin", LongType, nullable = false),
      StructField("w", DoubleType, nullable = false))),
    containsNull = false)

  /** Static kernel shared by interpreted eval and generated code. Returns
    * null on masses/intensities length mismatch. */
  def binTopK(masses: ArrayData, intens: ArrayData, binWidth: Double, topK: Int): ArrayData = {
    val n = masses.numElements()
    if (n != intens.numElements()) return null
    // bin -> summed intensity, in first-seen bin order irrelevant (sorted later)
    val sums = new java.util.HashMap[java.lang.Long, java.lang.Double](math.min(n, 64))
    var i = 0
    while (i < n) {
      if (!masses.isNullAt(i) && !intens.isNullAt(i)) {
        val m = masses.getDouble(i)
        val x = intens.getDouble(i)
        if (java.lang.Double.isFinite(m) && java.lang.Double.isFinite(x) && x > 0.0) {
          val bin = java.lang.Long.valueOf(math.floor(m / binWidth).toLong)
          val prev = sums.get(bin)
          sums.put(bin, if (prev == null) x else prev.doubleValue() + x)
        }
      }
      i += 1
    }
    val entries = new Array[(Long, Double)](sums.size())
    val it = sums.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      entries(j) = (e.getKey.longValue(), e.getValue.doubleValue())
      j += 1
    }
    // topK by (w desc, bin asc), then emit sorted by bin asc
    java.util.Arrays.sort(entries, (a: (Long, Double), b: (Long, Double)) => {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    })
    val keep = math.min(topK, entries.length)
    val kept = java.util.Arrays.copyOfRange(entries, 0, keep)
    java.util.Arrays.sort(kept, (a: (Long, Double), b: (Long, Double)) =>
      java.lang.Long.compare(a._1, b._1))
    val rows = new Array[Any](keep)
    var r = 0
    while (r < keep) {
      rows(r) = new GenericInternalRow(Array[Any](kept(r)._1, kept(r)._2)): InternalRow
      r += 1
    }
    new GenericArrayData(rows)
  }

  val FunctionName = "graft_bin_peaks"

  /** Column API. Requires an active session (operators pass their input
    * frame's session). */
  def binPeaksCol(
      spark: SparkSession, masses: Column, intensities: Column,
      binWidth: Double, topK: Int): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function(FunctionName, masses, intensities, lit(binWidth), lit(topK))
  }
}

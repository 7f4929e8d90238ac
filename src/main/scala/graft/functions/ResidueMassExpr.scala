package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernel for the summed monoisotopic residue mass of a
  * peptide sequence — the inner loop of the F10 delta-mass gate
  * (PrideAnalysisAssayService.java:646-660), evaluated once per PSM.
  *
  * The column-expression form (`aggregate(transform(split(seq, ""), c =>
  * element_at(massMap, c)), 0.0, _ + _)`) allocates a per-character
  * string array and dispatches two interpreted lambdas per residue —
  * ~100M lambda invocations per 8M-PSM assay. Here the residue table is
  * a 128-slot primitive array and the sum is one char loop inside
  * whole-stage codegen.
  *
  * Value parity with [[PeptideFunctions.residueMassHof]]: masses
  * accumulate in character order (the same IEEE fold), characters
  * outside the table — including any non-ASCII — contribute exactly
  * 0.0, and a NULL sequence yields NULL.
  */
case class ResidueMassExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${other.sql}")
  }

  override def nullSafeEval(seq: Any): Any =
    ResidueMassExpr.residueMass(seq.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ResidueMassExpr.residueMass($c)")

  override def prettyName: String = ResidueMassExpr.FunctionName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ResidueMassExpr {

  /** Monoisotopic mass per ASCII residue code; 0.0 for anything else
    * (identical to the HOF's `coalesce(element_at(map, c), 0.0)`). */
  private val Table: Array[Double] = {
    val t = new Array[Double](128)
    PeptideFunctions.MonoisotopicMasses.foreach { case (aa, m) => t(aa.charAt(0).toInt) = m }
    t
  }

  /** Static kernel shared by interpreted eval and generated code.
    *
    * Iterates the UTF-8 BYTES directly — zero per-row allocation (no
    * String decode). Value-identical to the per-char form: ASCII residues
    * are single bytes >= 0; every byte of a multi-byte character is
    * negative (UTF-8 lead bytes >= 0xC0, continuation bytes >= 0x80) and
    * contributes exactly 0.0, the same as the char form's out-of-table
    * 0.0 (and += 0.0 never changes an IEEE accumulator). */
  def residueMass(seq: UTF8String): Double = {
    val n = seq.numBytes()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val b = seq.getByte(i)
      if (b >= 0) acc += Table(b)
      i += 1
    }
    acc
  }

  val FunctionName = "graft_residue_mass"

  /** Column API: native when a session is active, else the identical-value
    * column-expression fold ([[PeptideFunctions.residueMassHof]]). */
  def residueMassCol(sequence: Column): Column =
    SparkSession.getActiveSession match {
      case Some(s) =>
        GraftFunctions.ensureRegistered(s)
        call_function(FunctionName, sequence)
      case None => PeptideFunctions.residueMassHof(sequence)
    }
}

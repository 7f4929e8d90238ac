package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernel for word n-gram WINDOWS over a token array —
  * every consecutive-n window joined by single spaces, WITH multiplicity
  * and in position order (no dedup, no short-doc fallback: fewer than `n`
  * tokens yields an EMPTY array). The column-expression form
  * (`transform(sequence(0, size(t)-n), i -> concat_ws(" ",
  * slice(t, i+1, n)))`) evaluates interpreted — per-window lambda
  * dispatch plus an array slice allocation per window; this is one tight
  * pass per document inside whole-stage codegen.
  *
  * Distinct from [[WordShinglesExpr]] (string input, DISTINCT windows,
  * whole-text fallback for short docs): this kernel is the
  * position-faithful generator the span/diversity operators need —
  * `posexplode(word_grams(t, k))` gives (window index, window) pairs
  * identical to the transform form's.
  *
  * Value parity (property-tested against the HOF form): windows are
  * `concat_ws(" ", slice(tokens, i+1, n))` for i in [0, size-n] — null
  * elements skipped exactly the way concat_ws skips them; NULL token
  * array yields NULL. */
case class WordGramsExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) if right.foldable =>
      // ADVICE r14: same literal validation as GramOverlapExpr — a NULL
      // or non-positive n must fail analysis, not corrupt codegen
      val n = right.eval()
      if (n == null || n.asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: n must be a non-null int literal >= 1, got $n")
      else TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, int literal), got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(tokens: Any, n: Any): Any =
    WordGramsExpr.grams(tokens.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.functions.WordGramsExpr.grams($t, $n)")

  override def prettyName: String = WordGramsExpr.FunctionName

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object WordGramsExpr {

  val FunctionName = "graft_word_grams"

  /** Static kernel shared by interpreted eval and generated code. */
  def grams(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val total = len - n + 1
    if (total <= 0) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](total)
    val sb = new java.lang.StringBuilder(16 * n)
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var appended = false
      var j = 0
      while (j < n) {
        if (!tokens.isNullAt(i + j)) {
          if (appended) sb.append(' ')
          sb.append(tokens.getUTF8String(i + j).toString)
          appended = true
        }
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API (requires an active session, like the other kernels). */
  def gramsCol(tokens: Column, n: Int): Column = {
    val s = SparkSession.active
    GraftFunctions.ensureRegistered(s)
    call_function(FunctionName, tokens, lit(n))
  }
}

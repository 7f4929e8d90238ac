package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Native codegen kernel for word n-gram shingling — the inner loop of
  * every dedup/decontamination/repetition operator. The column-expression
  * form (`array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(tokens, i+1, n))))`) evaluates its lambdas interpreted, paying
  * per-window dispatch on billions of windows at corpus scale; this is
  * one tight pass per document inside whole-stage codegen.
  *
  * Value parity with [[TextFunctions.wordShingles]] (property-tested):
  *  - tokens are maximal runs of non-`\s` characters (identical to
  *    `split(text, "\\s+")` + non-empty filter — `\s` = space, tab, \n,
  *    \x0B, \f, \r, the Java regex class, NOT unicode whitespace);
  *  - windows of exactly `n` tokens joined by one space, de-duplicated
  *    preserving FIRST occurrence order (array_distinct semantics);
  *  - fewer than `n` tokens => one shingle of all tokens joined (the
  *    empty string for an empty/blank document).
  */
case class WordShinglesExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, int literal), got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(text: Any, n: Any): Any =
    WordShinglesExpr.shingles(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.functions.WordShinglesExpr.shingles($t, $n)")

  override def prettyName: String = WordShinglesExpr.FunctionName

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object WordShinglesExpr {

  @inline private def isJavaRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Static kernel shared by interpreted eval and generated code. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    // tokenize: maximal runs of non-\s chars
    val tokens = mutable.ArrayBuffer.empty[String]
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isJavaRegexSpace(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isJavaRegexSpace(s.charAt(i))) i += 1
        tokens += s.substring(start, i)
      }
    }
    val nTok = tokens.length
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (nTok >= n) {
      val sb = new java.lang.StringBuilder(16 * n)
      var w = 0
      while (w <= nTok - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(tokens(w + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        w += 1
      }
    } else {
      out.add(UTF8String.fromString(tokens.mkString(" ")))
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  val FunctionName = "graft_word_shingles"

  /** Column API: native when a session is active, else the identical-value
    * column-expression fold (see [[TextFunctions.wordShinglesHof]]). */
  def shinglesCol(text: Column, n: Int): Column =
    SparkSession.getActiveSession match {
      case Some(s) =>
        GraftFunctions.ensureRegistered(s)
        call_function(FunctionName, text, lit(n))
      case None => TextFunctions.wordShinglesHof(text, n)
    }
}

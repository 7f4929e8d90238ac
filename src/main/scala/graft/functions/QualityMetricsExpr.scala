package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit, struct, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass kernel for [[TextFunctions.qualityMetrics]] — the
  * corpus-quality projection that gates every curation pipeline. The
  * column-expression form pays four separate passes per document (a
  * regex tokenizer feeding an interpreted `aggregate` fold for mean
  * token length, an interpreted `filter` lambda for stopword hits, and a
  * full `regexp_replace` scan for the punctuation ratio); this kernel
  * computes all five outputs in ONE code-point scan inside whole-stage
  * codegen.
  *
  * Value parity with the column form (property-tested, and the DuckDB
  * oracle twins re-derive the same formulas):
  *  - tokens are maximal runs of non-`\s` chars (the Java regex class:
  *    space, \t, \n, \x0B, \f, \r — NOT unicode whitespace);
  *  - token/char lengths count CODE POINTS (Spark `length` semantics);
  *  - punct chars are code points outside [A-Za-z0-9\s];
  *  - score = lengthOk*0.4 + (stop>0.02 ? 0.3 : 0) + (punct<0.2 ? 0.3 : 0)
  *    with the same double association order;
  *  - a NULL text yields the column form's exact per-field row —
  *    (null, 0.0, 0.0, 0.0, null), NOT a null struct — restored by the
  *    `when(isNull)` branch in [[QualityMetricsExpr.metricsCol]] (the
  *    expression itself null-propagates like every other kernel here).
  */
case class QualityMetricsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = QualityMetricsExpr.Schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${other.sql}")
  }

  override def nullSafeEval(text: Any): Any =
    QualityMetricsExpr.metrics(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.QualityMetricsExpr.metrics($t)")

  override def prettyName: String = QualityMetricsExpr.FunctionName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualityMetricsExpr {

  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("mean_token_len", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("quality_score", DoubleType, nullable = false),
  ))

  @inline private def isJavaRegexSpace(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  @inline private def isAlnum(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')

  // TextFunctions.StopwordLexicons("en") — inlined as a static set; the
  // parity property test fails if the two ever diverge.
  private val enStops: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("the", "a", "of", "and", "to", "in", "is", "that").foreach(s.add)
    s
  }

  /** Static kernel shared by interpreted eval and generated code. One
    * code-point scan: token boundaries, per-token code-point lengths,
    * stopword membership, punct/char counts. */
  def metrics(text: UTF8String): InternalRow = {
    val s = text.toString
    val len = s.length
    var i = 0
    var nChars = 0L     // code points total
    var nPunct = 0L     // code points outside [A-Za-z0-9\s]
    var nTok = 0L
    var sumTokLen = 0L  // code points across tokens
    var stopHits = 0L
    var tokStart = -1
    var tokLen = 0L     // code points in the current token
    while (i < len) {
      val cp = s.codePointAt(i)
      nChars += 1
      if (!isAlnum(cp) && !isJavaRegexSpace(cp)) nPunct += 1
      if (isJavaRegexSpace(cp)) {
        if (tokStart >= 0) {
          nTok += 1; sumTokLen += tokLen
          if (tokLen <= 4 && enStops.contains(s.substring(tokStart, i))) stopHits += 1
          tokStart = -1; tokLen = 0L
        }
      } else {
        if (tokStart < 0) tokStart = i
        tokLen += 1
      }
      i += Character.charCount(cp)
    }
    if (tokStart >= 0) {
      nTok += 1; sumTokLen += tokLen
      if (tokLen <= 4 && enStops.contains(s.substring(tokStart, len))) stopHits += 1
    }
    val nTokD = nTok.toDouble
    val meanLen = if (nTok > 0) sumTokLen.toDouble / nTokD else 0.0
    val stopRatio = if (nTok > 0) stopHits.toDouble / nTokD else 0.0
    val punctRatio = if (nChars > 0) nPunct.toDouble / nChars.toDouble else 0.0
    val lengthOk = if (nTok >= 10 && nTok <= 10000) 1.0 else 0.0
    val score = lengthOk * 0.4 +
      (if (stopRatio > 0.02) 0.3 else 0.0) +
      (if (punctRatio < 0.2) 0.3 else 0.0)
    new GenericInternalRow(Array[Any](nTok, meanLen, stopRatio, punctRatio, score))
  }

  val FunctionName = "graft_quality_metrics"

  /** The column form's row for a NULL text: `when()` over null conditions
    * falls through to `otherwise` per FIELD there, so ratios are 0.0 while
    * the size- and &&-derived fields stay null. */
  private def nullTextRow: Column = struct(
    lit(null).cast("long").as("n_tokens"),
    lit(0.0).as("mean_token_len"),
    lit(0.0).as("stopword_ratio"),
    lit(0.0).as("punct_ratio"),
    lit(null).cast("double").as("quality_score"))

  /** Column API: native when a session is active, else the identical-value
    * column-expression form. */
  def metricsCol(text: Column): Column =
    SparkSession.getActiveSession match {
      case Some(s) =>
        GraftFunctions.ensureRegistered(s)
        when(text.isNull, nullTextRow).otherwise(call_function(FunctionName, text))
      case None => TextFunctions.qualityMetricsHof(text)
    }
}

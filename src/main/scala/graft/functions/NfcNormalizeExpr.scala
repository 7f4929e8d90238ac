package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernel for Unicode NFC normalization — the first step
  * of text canonicalization in a training-data pipeline: the same
  * grapheme can arrive composed (`é`, U+00E9) or decomposed (`e` +
  * U+0301), and every downstream exact/MinHash/fingerprint dedup,
  * tokenizer, and decontamination join silently misses pairs unless the
  * corpus is normalized to one form first.
  *
  * Semantics are EXACTLY Unicode NFC (canonical decomposition +
  * canonical composition, `java.text.Normalizer`), matching DuckDB's
  * independent `nfc_normalize` implementation — the oracle
  * cross-validates the two engines' Unicode tables against each other.
  * Spark has no built-in for this; the expression stays inside
  * whole-stage codegen with two allocation-free fast paths (pure-ASCII
  * bytes, already-normalized text) since real corpora are dominated by
  * text NFC does not change.
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${other.sql}")
  }

  override def nullSafeEval(text: Any): Any =
    NfcNormalizeExpr.normalize(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.NfcNormalizeExpr.normalize($t)")

  override def prettyName: String = NfcNormalizeExpr.FunctionName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalizeExpr {

  /** Static kernel shared by interpreted eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    // fast path 1: pure-ASCII bytes — NFC is the identity, return the
    // input buffer untouched (no string materialization at all)
    val n = s.numBytes
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if (s.getByte(i) < 0) ascii = false
      i += 1
    }
    if (ascii) s
    else {
      val str = s.toString
      // fast path 2: already-NFC text keeps the original buffer
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
  }

  val FunctionName = "graft_nfc"

  /** Column API (requires an active session for the native registration). */
  def normalizeCol(text: Column): Column = {
    SparkSession.getActiveSession.foreach(GraftFunctions.ensureRegistered)
    call_function(FunctionName, text)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernel for clipped n-gram overlap between a candidate
  * and a reference token array — the per-pair core of BLEU/ROUGE.
  *
  * The previous shape exploded every n-gram instance of both sides into
  * (pair, n, side, gram) rows, shuffled them through TWO aggregations,
  * and joined the rollup back to the pair spine — yet candidate and
  * reference share a ROW, so nothing about the metric needs an exchange
  * (guide §1.2: the theoretically cheapest execution is zero shuffles).
  * This kernel computes, in one pass per pair inside whole-stage codegen:
  *
  *   cand_total = max(|cand| - n + 1, 0)        (gram instances, cand)
  *   ref_total  = max(|ref| - n + 1, 0)         (gram instances, ref)
  *   clip       = Σ_g min(count_cand(g), count_ref(g))   (clipped hits)
  *
  * Value parity with the exploded form (property-tested against it):
  * grams are exactly the `concat_ws(" ", slice(tokens, i+1, n))` windows
  * — n consecutive tokens joined by single spaces, nulls skipped the way
  * concat_ws skips them; short sides (|t| < n) contribute zero grams (the
  * rougeN/bleuPairs `grams()` contract, NOT wordShingles' whole-text
  * fallback); counts carry multiplicity (no dedup). NULL on either input
  * array yields a NULL struct (callers coalesce totals to 0 exactly as
  * the old left-join did). */
case class GramOverlapExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = GramOverlapExpr.resultType
  override def nullable: Boolean = first.nullable || second.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), IntegerType)
          if third.foldable =>
        // ADVICE r14: nullable=false means codegen's non-null fast path
        // would feed a NULL literal's default value into stats(), and
        // n <= 0 silently yields len+1 empty-string grams — reject both
        // here (mirrors TopKByAgg's k validation)
        val n = third.eval()
        if (n == null || n.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: n must be a non-null int literal >= 1, got $n")
        else TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<string>, array<string>, int literal), got " +
            s"${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}")
    }

  override def nullSafeEval(cand: Any, ref: Any, n: Any): Any =
    GramOverlapExpr.stats(
      cand.asInstanceOf[ArrayData], ref.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r, n) =>
      s"graft.functions.GramOverlapExpr.stats($c, $r, $n)")

  override def prettyName: String = GramOverlapExpr.FunctionName

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object GramOverlapExpr {

  val FunctionName = "graft_gram_overlap"

  val resultType: StructType = StructType(Seq(
    StructField("cand_total", LongType, nullable = false),
    StructField("ref_total", LongType, nullable = false),
    StructField("clip", LongType, nullable = false)))

  /** Join `n` tokens starting at `i` with single spaces, skipping null
    * elements exactly the way concat_ws does. */
  @inline private def gramAt(a: ArrayData, i: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(16 * n)
    var j = 0
    var appended = false
    while (j < n) {
      if (!a.isNullAt(i + j)) {
        if (appended) sb.append(' ')
        sb.append(a.getUTF8String(i + j).toString)
        appended = true
      }
      j += 1
    }
    sb.toString
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def stats(cand: ArrayData, ref: ArrayData, n: Int): InternalRow = {
    val cLen = cand.numElements()
    val rLen = ref.numElements()
    val cTot = math.max(cLen - n + 1, 0)
    val rTot = math.max(rLen - n + 1, 0)
    var clip = 0L
    if (cTot > 0 && rTot > 0) {
      // candidate gram multiset, then decrement-match reference grams
      val counts = new java.util.HashMap[String, Long](cTot * 2)
      var i = 0
      while (i < cTot) {
        counts.merge(gramAt(cand, i, n), 1L, (a, b) => a + b)
        i += 1
      }
      i = 0
      while (i < rTot) {
        val g = gramAt(ref, i, n)
        val left = counts.get(g)
        if (left != null && left > 0L) {
          clip += 1L
          counts.put(g, left - 1L)
        }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](cTot.toLong, rTot.toLong, clip))
  }

  /** Column API (requires an active session, like the other kernels). */
  def overlapCol(cand: Column, ref: Column, n: Int): Column = {
    val s = SparkSession.active
    GraftFunctions.ensureRegistered(s)
    call_function(FunctionName, cand, ref, lit(n))
  }
}

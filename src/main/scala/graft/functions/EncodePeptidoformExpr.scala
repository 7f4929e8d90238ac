package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for P6 peptidoform encoding — the engine's
  * hottest scalar function (per archive-spectrum row). Compared with the
  * `udf(...)` form it:
  *  - stays inside whole-stage codegen (emits a static call, no
  *    ScalaUDF wrapper);
  *  - avoids the Catalyst<->Scala converters (operates directly on
  *    `UTF8String`/`MapData`).
  *
  * Semantics identical to [[PeptideFunctions.encodePsm]] (property-tested
  * equal). This is the engine's single custom Expression — SURVEY §4
  * concluded Catalyst built-ins cover everything else.
  */
case class EncodePeptidoformExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override def nullSafeEval(seq: Any, mods: Any, charge: Any): Any =
    EncodePeptidoformExpr.build(
      seq.asInstanceOf[UTF8String], mods.asInstanceOf[MapData],
      charge.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, m, z) =>
      s"graft.functions.EncodePeptidoformExpr.build($s, $m, $z)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object EncodePeptidoformExpr {

  /** Static kernel shared by interpreted eval and generated code. */
  def build(seq: UTF8String, mods: MapData, charge: Int): UTF8String = {
    val sequence = seq.toString
    val n = mods.numElements()
    if (n == 0) return UTF8String.fromString(sequence + "/" + charge)
    val keys = mods.keyArray()
    val values = mods.valueArray()
    // position -> accession, sorted by position for determinism
    val pairs = new Array[(Int, String)](n)
    var i = 0
    while (i < n) {
      pairs(i) = (keys.getInt(i), values.getUTF8String(i).toString)
      i += 1
    }
    java.util.Arrays.sort(pairs, Ordering.by((p: (Int, String)) => p._1))

    val sb = new java.lang.StringBuilder(sequence.length + 16 * n)
    var pi = 0
    // Negative positions can never match any lookup — skip them up front
    // (the map-based reference form simply never looks them up). Without
    // this the sorted cursor would stall on the first negative entry and
    // silently drop every later inline mod.
    while (pi < n && pairs(pi)._1 < 0) pi += 1
    // N-term (position 0)
    while (pi < n && pairs(pi)._1 == 0) {
      sb.append('[').append(pairs(pi)._2).append(']'); pi += 1
    }
    var ci = 0
    while (ci < sequence.length) {
      sb.append(sequence.charAt(ci))
      while (pi < n && pairs(pi)._1 == ci + 1) {
        sb.append('[').append(pairs(pi)._2).append(']'); pi += 1
      }
      ci += 1
    }
    // C-term (position > length), in position order
    while (pi < n) {
      if (pairs(pi)._1 > sequence.length)
        sb.append("-[").append(pairs(pi)._2).append(']')
      pi += 1
    }
    sb.append('/').append(charge)
    UTF8String.fromString(sb.toString)
  }

  val FunctionName = "graft_encode_peptidoform"

  /** Column-level API; caller must
    * [[GraftFunctions.ensureRegistered]] on the session first.
    * Inputs: (string sequence, map<int,string> mods, int charge). */
  def encode(seq: Column, mods: Column, charge: Column): Column =
    call_function(FunctionName, seq, mods, charge)
}

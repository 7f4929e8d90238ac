package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** P13 as a native expression: positioned modification map ->
  * IdentifiedModification structs (positions merged per accession), built
  * directly as Catalyst `InternalRow`s/`ArrayData` in a static kernel —
  * the nested-struct counterpart of [[EncodePeptidoformExpr]], removing
  * the archive-spectrum projection's last UDF.
  * Reference: PrideAnalysisAssayService.convertPeptideModifications:1007-1047. */
case class ModsToStructsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ModsToStructsExpr.outputType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(mods: Any): Any =
    ModsToStructsExpr.build(mods.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m => s"graft.functions.ModsToStructsExpr.build($m)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ModsToStructsExpr {

  private val cvParamType = StructType(Seq(
    StructField("cvLabel", StringType),
    StructField("accession", StringType),
    StructField("name", StringType),
    StructField("value", StringType)))

  private val positionType = StructType(Seq(
    StructField("position", IntegerType),
    StructField("probabilities", ArrayType(cvParamType))))

  val elementType: StructType = StructType(Seq(
    StructField("neutralLoss", cvParamType),
    StructField("positionMap", ArrayType(positionType)),
    StructField("modification", cvParamType),
    StructField("properties", ArrayType(cvParamType))))

  val outputType: DataType = ArrayType(elementType)

  private val emptyArray = new GenericArrayData(Array.empty[Any])

  /** Static kernel shared by interpreted eval and generated code. */
  def build(mods: MapData): ArrayData = {
    val n = mods.numElements()
    if (n == 0) return emptyArray
    val keys = mods.keyArray()
    val values = mods.valueArray()
    // accession -> sorted positions; deterministic accession order
    val byAcc = new java.util.TreeMap[String, java.util.TreeSet[Integer]]()
    var i = 0
    while (i < n) {
      val acc = values.getUTF8String(i).toString
      var set = byAcc.get(acc)
      if (set == null) { set = new java.util.TreeSet[Integer](); byAcc.put(acc, set) }
      set.add(keys.getInt(i))
      i += 1
    }
    val out = new Array[Any](byAcc.size())
    var j = 0
    val it = byAcc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val accU = UTF8String.fromString(e.getKey)
      val positions = new Array[Any](e.getValue.size())
      var k = 0
      val pit = e.getValue.iterator()
      while (pit.hasNext) {
        positions(k) = InternalRow(pit.next().intValue(), emptyArray)
        k += 1
      }
      val cvParam = InternalRow(UTF8String.fromString("UNIMOD"), accU, accU, null)
      out(j) = InternalRow(null, new GenericArrayData(positions), cvParam, emptyArray)
      j += 1
    }
    new GenericArrayData(out)
  }

  val FunctionName = "graft_mods_to_structs"

  def toStructs(mods: Column): Column = call_function(FunctionName, mods)
}

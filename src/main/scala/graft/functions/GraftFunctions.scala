package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** The engine's one kernel table: every native SQL function is one row
  * (name, usage, builder). [[graft.plans.GraftExtensions]] injects the rows
  * into every session [[graft.GraftSession]] builds; [[ensureRegistered]]
  * adds them to a session built elsewhere (the driver hands
  * `SparkEntry` its own session). */
object GraftFunctions {

  final case class Kernel(name: String, usage: String, build: Seq[Expression] => Expression) {
    // one instance per row: re-registering an identical (info, builder)
    // pair is then a silent no-op in the registry
    val info: ExpressionInfo =
      new ExpressionInfo(GraftFunctions.getClass.getName, null, name, usage, "")
  }

  /** A row whose builder first checks the argument count, so a wrong-arity
    * call fails with the same message from SQL and from the column API. */
  private def kernel(name: String, n: Int, usage: String)(
      build: Seq[Expression] => Expression): Kernel =
    Kernel(name, usage, exprs => {
      require(exprs.length == n, s"$name expects $n arguments, got ${exprs.length}")
      build(exprs)
    })

  /** Sketch sizes are plan-time constants: the aggregation buffer layout
    * depends on them. */
  private def intLit(name: String, what: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: $what must be an integer literal, got $other")
  }

  val Kernels: Seq[Kernel] = Seq(
    kernel(VectorExprs.DotName, 2,
      "_FUNC_(a, b) - sequential-fold dot product of two float/double arrays")(
      e => DotProductExpr(e(0), e(1))),
    kernel(VectorExprs.SqDistName, 2,
      "_FUNC_(a, b) - sequential-fold squared euclidean distance")(
      e => SqDistExpr(e(0), e(1))),
    kernel(WordShinglesExpr.FunctionName, 2,
      "_FUNC_(text, n) - distinct word n-gram shingles, first-occurrence order")(
      e => WordShinglesExpr(e(0), e(1))),
    kernel(GramOverlapExpr.FunctionName, 3,
      "_FUNC_(cand, ref, n) - clipped n-gram overlap (cand_total, ref_total, clip)")(
      e => GramOverlapExpr(e(0), e(1), e(2))),
    kernel(WordGramsExpr.FunctionName, 2,
      "_FUNC_(tokens, n) - every word n-gram of a token array, in order")(
      e => WordGramsExpr(e(0), e(1))),
    kernel(NfcNormalizeExpr.FunctionName, 1,
      "_FUNC_(text) - Unicode NFC normalization")(
      e => NfcNormalizeExpr(e(0))),
    kernel(ArgMinCellExpr.FunctionName, 2,
      "_FUNC_(vec, centroids) - nearest-centroid cell id (squared euclidean)")(
      e => ArgMinCellExpr(e(0), e(1))),
    kernel(EncodePeptidoformExpr.FunctionName, 3,
      "_FUNC_(sequence, mods, charge) - peptidoform string with positioned mods")(
      e => EncodePeptidoformExpr(e(0), e(1), e(2))),
    kernel(ModsToStructsExpr.FunctionName, 1,
      "_FUNC_(mods) - positioned modification map to IdentifiedModification structs")(
      e => ModsToStructsExpr(e(0))),
    kernel(ResidueMassExpr.FunctionName, 1,
      "_FUNC_(sequence) - summed monoisotopic residue mass of a peptide")(
      e => ResidueMassExpr(e(0))),
    kernel(QualityMetricsExpr.FunctionName, 1,
      "_FUNC_(text) - corpus quality metrics struct of a document")(
      e => QualityMetricsExpr(e(0))),
    kernel(KmvSketchAgg.Name, 2,
      "_FUNC_(hash, k) - k-minimum-values distinct-count sketch (aggregate)")(
      e => KmvSketchAgg(e(0), intLit(KmvSketchAgg.Name, "k")(e(1))).toAggregateExpression()),
    kernel(TopKByAgg.Name, 3,
      "_FUNC_(ord, id, k) - the k greatest (ord, id) pairs (aggregate)")(
      e => TopKByAgg(e(0), e(1), intLit(TopKByAgg.Name, "k")(e(2))).toAggregateExpression()),
    kernel(CountMinAgg.Name, 3,
      "_FUNC_(hash, depth, width) - count-min sketch (aggregate)")(
      e => CountMinAgg(e(0), intLit(CountMinAgg.Name, "depth")(e(1)),
        intLit(CountMinAgg.Name, "width")(e(2))).toAggregateExpression()),
    kernel(BinPeaksExpr.FunctionName, 4,
      "_FUNC_(masses, intensities, binWidth, topK) - top-k binned peaks of a spectrum")(
      e => BinPeaksExpr(e(0), e(1), e(2), e(3))),
    kernel(BinVectorExprs.DotName, 2,
      "_FUNC_(a, b) - dot product of two bin-sorted sparse peak vectors")(
      e => BinVectorExprs.SortedBinDotExpr(e(0), e(1))),
    kernel(BinVectorExprs.TopBinsName, 2,
      "_FUNC_(a, n) - the n most intense bins of a sparse peak vector")(
      e => BinVectorExprs.TopBinsExpr(e(0), e(1))),
  )

  /** Registers every kernel the session does not already have. Idempotent
    * and cheap (one registry lookup per row), so operators call it with
    * `df.sparkSession` at entry: `newSession()` isolates the function
    * registry, and a session that was not built with the extension starts
    * without the kernels. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Kernels.foreach { k =>
      val id = FunctionIdentifier(k.name)
      if (!registry.functionExists(id)) registry.registerFunction(id, k.info, k.build)
    }
  }
}

package graft

import graft.functions.{DotProductExpr, SqDistExpr, VectorExprs}
import graft.plans.NativeVectorRule
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The native dot/sqdist kernels must be bit-identical to the
  * higher-order-function folds they replace (the DuckDB oracles reproduce
  * the fold), including zip_with's null/length-mismatch semantics. */
class VectorExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def hofSqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** A child session without [[NativeVectorRule]]: on double arrays the
    * reference folds above match the rule's pattern once SimplifyCasts
    * drops the no-op casts, and would otherwise be rewritten into the very
    * kernels they check. */
  private lazy val refSpark = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", NativeVectorRule.ruleName)
    s
  }

  /** Evaluates the kernel columns and the reference columns as two queries
    * over the same rows (one RDD partition, so no local-relation folding
    * and a stable row order) and pairs their results. The reference plan
    * must still hold the interpreted fold and no kernel, so the comparison
    * can never degenerate into the kernel against itself. */
  private def kernelVsRef(rows: Seq[Row], elem: DataType, native: Seq[Column],
      hof: Seq[Column]): Seq[(Row, Row)] = {
    val schema = StructType(Seq("a", "b").map(StructField(_, ArrayType(elem))))
    val df = refSpark.createDataFrame(refSpark.sparkContext.parallelize(rows, 1), schema)
    val ref = df.select(hof: _*)
    val exprs = ref.queryExecution.optimizedPlan.flatMap(_.expressions)
    assert(exprs.exists(_.find(_.isInstanceOf[ArrayAggregate]).isDefined), ref.queryExecution)
    assert(!exprs.exists(_.find {
      case _: DotProductExpr | _: SqDistExpr => true
      case _ => false
    }.isDefined), ref.queryExecution)
    df.select(native: _*).collect().toSeq.zip(ref.collect().toSeq)
  }

  private def sameBits(x: Double, y: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)

  private val floatRows = Seq(
    (Seq(1.0f, 2.5f, -3.25f, 0.1f), Seq(4.0f, -1.5f, 2.0f, 7.7f)),
    (Seq(0.0f, 0.0f, 0.0f, 0.0f), Seq(1.0f, 2.0f, 3.0f, 4.0f)),
    (Seq(1e30f, -1e30f, 1.0f, 2.0f), Seq(1e8f, 1e8f, 0.5f, 0.25f)),
  )

  test("native dot == HOF fold, bit-exact, float arrays") {
    val r = kernelVsRef(floatRows.map { case (a, b) => Row(a, b) }, FloatType,
      Seq(VectorExprs.dotNative(col("a"), col("b"))), Seq(hofDot(col("a"), col("b"))))
    assert(r.length == floatRows.length)
    r.foreach { case (n, h) => assert(sameBits(n.getDouble(0), h.getDouble(0)), (n, h)) }
  }

  test("native sqdist == HOF fold, bit-exact, double arrays") {
    val rows = floatRows.map { case (a, b) => Row(a.map(_.toDouble), b.map(_.toDouble)) }
    val r = kernelVsRef(rows, DoubleType,
      Seq(VectorExprs.sqDistNative(col("a"), col("b"))), Seq(hofSqDist(col("a"), col("b"))))
    assert(r.length == rows.length)
    r.foreach { case (n, h) => assert(sameBits(n.getDouble(0), h.getDouble(0)), (n, h)) }
  }

  test("mixed float x double literal matches HOF") {
    val planes = Seq(0.5, -0.25, 0.125, -1.0)
    val r = kernelVsRef(floatRows.map { case (a, b) => Row(a, b) }, FloatType,
      Seq(VectorExprs.dotNative(col("a"), typedLit(planes))),
      Seq(hofDot(col("a"), typedLit(planes))))
    assert(r.length == floatRows.length)
    r.foreach { case (n, h) => assert(n.getDouble(0) == h.getDouble(0), (n, h)) }
  }

  test("length mismatch and null element yield NULL (zip_with padding semantics)") {
    val rows = Seq(
      Row(Seq(1.0, 2.0), Seq(1.0)),
      Row(Seq(1.0, null), Seq(1.0, 2.0)),
    )
    val r = kernelVsRef(rows, DoubleType,
      Seq(VectorExprs.dotNative(col("a"), col("b")),
        VectorExprs.sqDistNative(col("a"), col("b"))),
      Seq(hofDot(col("a"), col("b")), hofSqDist(col("a"), col("b"))))
    assert(r.length == rows.length)
    r.foreach { case (n, h) =>
      assert(n.isNullAt(0) && n.isNullAt(1) && h.isNullAt(0) && h.isNullAt(1), (n, h))
    }
  }

  test("empty arrays fold to 0.0") {
    val df = Seq((Seq.empty[Double], Seq.empty[Double])).toDF("a", "b")
    assert(df.select(VectorExprs.dotNative(col("a"), col("b"))).head().getDouble(0) == 0.0)
  }

  test("native word shingles == HOF fold for adversarial whitespace and any n (property)") {
    import graft.functions.{TextFunctions, WordShinglesExpr}
    import org.scalacheck.Gen
    val wsChars = Seq(' ', '\t', '\n', '\u000B', '\f', '\r')
    val tokenGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val piece = Gen.frequency(
      (4, tokenGen),
      (2, Gen.oneOf(wsChars).map(_.toString)),
      (1, Gen.listOfN(3, Gen.oneOf(wsChars)).map(_.mkString)))
    val textGen = Gen.frequency(
      (8, Gen.listOf(piece).map(_.mkString)),
      (1, Gen.const("")),
      (1, Gen.const("   \t\n  ")))
    val cases = (1 to 200).flatMap { seed =>
      val params = org.scalacheck.Gen.Parameters.default
        .withInitialSeed(org.scalacheck.rng.Seed(seed.toLong))
      textGen(params, org.scalacheck.rng.Seed(seed.toLong))
        .map(t => (t, seed % 5 + 1))
    }
    assert(cases.length > 150)
    cases.groupBy(_._2).foreach { case (n, group) =>
      val df = group.map(_._1).toDF("text")
      val rows = df.select(
        WordShinglesExpr.shinglesCol(col("text"), n).as("native"),
        TextFunctions.wordShinglesHof(col("text"), n).as("hof")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text=${group.map(_._1)}")
      }
    }
  }

  test("argmin-cell: NaN and overflow-to-Inf vectors yield NULL on BOTH eval paths") {
    import graft.functions.ArgMinCellExpr
    import graft.operators.Similarity
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(1.0, 1.0)))
    val df = Seq(
      Seq(Double.NaN, 0.0), // NaN distance: no strict improvement ever fires
      Seq(1e300, 1e300), // squared distance overflows to +Inf — same
      Seq(0.5, 0.5), // control: a real nearest cell
    ).toDF("vec")
    val rows = df.select(
      ArgMinCellExpr.argMinCol(col("vec"), cents.map(_._2)).as("native"),
      Similarity.assignCellHof(col("vec"), cents).as("hof")).collect()
    rows.take(2).foreach(r => assert(r.isNullAt(0) && r.isNullAt(1), r.toString))
    assert(rows(2).getInt(0) == rows(2).getInt(1))
  }

  test("kernel runs inside whole-stage codegen (range input defeats local-relation folding)") {
    val df = spark.range(100)
      .select(array((0 until 4).map(i => (col("id") + i).cast("double")): _*).as("a"))
      .select(VectorExprs.dotNative(col("a"), col("a")).as("d"))
    assert(df.agg(sum(col("d"))).head().getDouble(0) > 0.0)
    val codegenned = df.queryExecution.executedPlan.collectFirst {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenned.isDefined, df.queryExecution.executedPlan.toString)
  }
}

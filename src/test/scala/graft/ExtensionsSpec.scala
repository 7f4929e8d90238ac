package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must make every native expression available from pure
  * SQL in a session GraftSession built — no `ensureRegistered` call
  * anywhere. A `newSession()` child starts from the builtin registry plus
  * the extension's functions, so whatever resolves there came from the
  * extension. */
class ExtensionsSpec extends AnyFunSuite {

  GraftFunctions.Kernels.foreach { k =>
    test(s"${k.name} resolves from SQL in an extension-only session") {
      val s = TestSpark.spark.newSession()
      val desc = s.sql(s"DESCRIBE FUNCTION ${k.name}").collect().map(_.getString(0))
      assert(desc.contains(s"Function: ${k.name}"), desc.mkString("\n"))
      assert(desc.contains(s"Usage: ${k.usage.replace("_FUNC_", k.name)}"), desc.mkString("\n"))
      // the registry holds the table's own row, not a re-registration
      assert(s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(k.name))
        .contains(k.info))
    }
  }

  test("spark.sql.extensions session exposes the native functions to SQL") {
    val s = TestSpark.spark.newSession()
    val dot = s.sql("SELECT graft_vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sq = s.sql("SELECT graft_vec_sqdist(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(sq == 8.0)
    val pf = s.sql(
      "SELECT graft_encode_peptidoform('PEPTIDE', map(1, 'UNIMOD:4'), 2) AS p")
      .head().getString(0)
    assert(pf == "P[UNIMOD:4]EPTIDE/2")
    val mods = s.sql(
      "SELECT graft_mods_to_structs(map(3, 'UNIMOD:35')) AS m")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(mods.length == 1)
    val sh = s.sql("SELECT graft_word_shingles('a b c d', 3) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val cell = s.sql(
      "SELECT graft_argmin_cell(array(1.0d, 0.0d), " +
        "array(array(0.0d, 0.0d), array(1.0d, 0.1d))) AS c")
      .head().getInt(0)
    assert(cell == 1)
    val rm = s.sql("SELECT graft_residue_mass('PEPTIDE') AS m")
      .head().getDouble(0)
    assert(rm == graft.functions.ResidueMassExpr.residueMass(
      org.apache.spark.unsafe.types.UTF8String.fromString("PEPTIDE")))

    // optimizer rule: the idiomatic HOF dot product rewrites to the
    // native kernel (visible in the optimized plan) with equal values
    // non-foldable source (arrays derive from range's id), or constant
    // folding erases the evidence of the rewrite from the plan
    val src = "(SELECT array(1.0d, id + 2.0d) AS a, array(3.0d, id + 4.0d) AS b " +
      "FROM range(1)) t"
    val hofDot = "aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v)"
    val dfDot = s.sql(s"SELECT $hofDot AS d FROM $src")
    assert(dfDot.queryExecution.optimizedPlan.toString.contains("graft_vec_dot"),
      dfDot.queryExecution.optimizedPlan.toString)
    assert(dfDot.head().getDouble(0) == 11.0) // [1,2]·[3,4]
    val hofSq =
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d, (acc, v) -> acc + v)"
    val dfSq = s.sql(s"SELECT $hofSq AS d FROM $src")
    assert(dfSq.queryExecution.optimizedPlan.toString.contains("graft_vec_sqdist"),
      dfSq.queryExecution.optimizedPlan.toString)
    assert(dfSq.head().getDouble(0) == 8.0)
    // strictness: float arrays fold in float precision — NOT rewritten
    val srcF = "(SELECT array(float(1.0), float(id + 2)) AS a, " +
      "array(float(3.0), float(id + 4)) AS b FROM range(1)) t"
    val dfFloat = s.sql(s"SELECT $hofDot AS d FROM $srcF")
    assert(!dfFloat.queryExecution.optimizedPlan.toString.contains("graft_vec_dot"))
    // strictness: a non-zero seed changes semantics — NOT rewritten
    val dfSeed = s.sql(
      s"SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 1d, (acc, v) -> acc + v) AS d " +
        s"FROM $src")
    assert(!dfSeed.queryExecution.optimizedPlan.toString.contains("graft_vec_dot"))
    assert(dfSeed.head().getDouble(0) == 12.0)
  }
}

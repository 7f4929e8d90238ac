package graft

import graft.functions.{PeptideFunctions, UsiFunctions}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).head().get(0)

  // ---- P6 peptidoform codec (SubmissionPipelineUtils.java:307-340) ----

  test("encodePeptidoform: unmodified passes through") {
    assert(PeptideFunctions.encodePeptidoform("PEPTIDE", Map.empty) == "PEPTIDE")
  }

  test("encodePeptidoform: N-term, internal, C-term") {
    val mods = Map(0 -> "UNIMOD:1", 3 -> "UNIMOD:35", 8 -> "UNIMOD:2")
    assert(PeptideFunctions.encodePeptidoform("PEPTIDE", mods) ==
      "[UNIMOD:1]PEP[UNIMOD:35]TIDE-[UNIMOD:2]")
  }

  test("encodePsm appends charge") {
    assert(PeptideFunctions.encodePsm("PEPTIDE", Map(1 -> "UNIMOD:4"), 2) ==
      "P[UNIMOD:4]EPTIDE/2")
  }

  test("removeChargeState inverts encodePsm for any charge (property)") {
    val seqs = Gen.nonEmptyListOf(Gen.oneOf("ACDEFGHIKLMNPQRSTVWY".toSeq)).map(_.mkString)
    val prop = forAll(seqs, Gen.choose(1, 30)) { (s: String, z: Int) =>
      PeptideFunctions.removeChargeStateStr(PeptideFunctions.encodePsm(s, Map.empty, z)) == s
    }
    assert(check(Parameters.default.withMinSuccessfulTests(200), prop).passed)
  }

  test("legacy removeChargeState chops 2 chars (reference bug-compat)") {
    val r = Seq("PEPTIDE/2").toDF("p")
      .select(PeptideFunctions.removeChargeState(col("p"), legacyCompat = true))
      .head().getString(0)
    assert(r == "PEPTIDE")
  }

  // ---- P4 cleanUsi (SubmissionPipelineUtils.java:43-67) ----

  test("cleanUsi strips all 22 special characters and is idempotent") {
    val dirty = "mzspec:PX(D)0_0 1=&$@;+?{^}%]>[~<#|end"
    val r1 = Seq(dirty).toDF("u").select(UsiFunctions.cleanUsi(col("u"))).head().getString(0)
    assert(r1 == "mzspec:PXD001end")
    val r2 = Seq(r1).toDF("u").select(UsiFunctions.cleanUsi(col("u"))).head().getString(0)
    assert(r2 == r1)
  }

  // ---- P5 spectraUsi ----

  test("spectraUsi keeps first five colon fields") {
    val r = Seq("mzspec:PXD1:file:scan:17:PEPTIDE/2").toDF("u")
      .select(UsiFunctions.spectraUsi(col("u"))).head().getString(0)
    assert(r == "mzspec:PXD1:file:scan:17")
  }

  // ---- P8 file name normalization ----

  test("fileNameNoExtension strips path, compression, extension") {
    val cases = Map(
      "/a/b/run1.mzML.gz" -> "run1",
      "run2.mgf" -> "run2",
      "dir/x.mzid.zip" -> "x",
      "plain.xml" -> "plain",
      "\"quoted run3.mgf\"" -> "quoted run3", // cleanFileName quote stripping
      "'r4.mzML'" -> "r4")
    cases.foreach { case (in, want) =>
      val got = Seq(in).toDF("f")
        .select(UsiFunctions.fileNameNoExtension(col("f"))).head().getString(0)
      assert(got == want, s"for $in")
    }
  }

  // ---- J1 scan-id normalization (SubmissionPipelineUtils.java:216-252) ----

  test("normalizeScanId: mascot/index formats strip prefix and add 1") {
    val df = Seq(
      ("query=41", UsiFunctions.IdFormat.MascotQueryNum),
      ("index=12", UsiFunctions.IdFormat.MultiPeakListNativeId),
    ).toDF("sid", "fmt")
    val got = df.select(UsiFunctions.normalizeScanId(col("sid"), col("fmt")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("42", "13"))
  }

  test("normalizeScanId: non-integer mascot id becomes null") {
    val got = Seq(("query=abc", UsiFunctions.IdFormat.MascotQueryNum)).toDF("sid", "fmt")
      .select(UsiFunctions.normalizeScanId(col("sid"), col("fmt"))).head()
    assert(got.isNullAt(0))
  }

  test("normalizeScanId: wiff native id passes through") {
    val wiff = "sample=1 period=1 cycle=1 experiment=1"
    val got = Seq((wiff, UsiFunctions.IdFormat.SpectrumNativeId)).toDF("sid", "fmt")
      .select(UsiFunctions.normalizeScanId(col("sid"), col("fmt"))).head().getString(0)
    assert(got == wiff)
  }

  test("normalizeScanId: mzML scan token extracted") {
    val got = Seq(("controllerType=0 controllerNumber=1 scan=7", UsiFunctions.IdFormat.MzmlId))
      .toDF("sid", "fmt")
      .select(UsiFunctions.normalizeScanId(col("sid"), col("fmt"))).head().getString(0)
    assert(got == "7")
  }

  test("normalizeScanId: native id without scan= passes through") {
    val got = Seq(("spectrum=99", UsiFunctions.IdFormat.SpectrumNativeId)).toDF("sid", "fmt")
      .select(UsiFunctions.normalizeScanId(col("sid"), col("fmt"))).head().getString(0)
    assert(got == "spectrum=99")
  }

  // ---- P3 buildUsi + wiff native values ----

  test("buildUsi + nativeIdValues") {
    val got = one(UsiFunctions.buildUsi(lit("PXD1"), lit("run1"), lit("nativeId"),
      UsiFunctions.nativeIdValues(lit("sample=1 period=2 cycle=3 experiment=4"))))
    assert(got == "mzspec:PXD1:run1:nativeId:1,2,3,4")
  }

  // ---- P10 missed cleavages ----

  test("missedCleavages counts internal K/R not before P") {
    // KRPK: K1 (before R) missed; R2 is followed by P (no cleavage); final K
    // is the peptide end, not a missed site -> 1. AAKP: terminal KP -> 0.
    // KKA: overlapping KK sites both count -> 2.
    val cases = Map("PEPTIDEK" -> 0, "PEKTIDER" -> 1, "KRPK" -> 1, "AKPA" -> 0,
      "AAKP" -> 0, "KKA" -> 2)
    cases.foreach { case (s, want) =>
      val got = Seq(s).toDF("s")
        .select(PeptideFunctions.missedCleavages(col("s"))).head().getInt(0)
      assert(got == want, s"for $s")
    }
  }

  // ---- F10 delta m/z ----

  test("theoreticalMz matches hand-computed PEPTIDE 2+") {
    val masses = "PEPTIDE".map(c => PeptideFunctions.MonoisotopicMasses(c.toString)).sum
    val want = (masses + PeptideFunctions.WaterMono + 2 * PeptideFunctions.ProtonMono) / 2
    val got = one(PeptideFunctions.theoreticalMz(lit("PEPTIDE"), lit(2), lit(0.0)))
      .asInstanceOf[Double]
    assert(math.abs(got - want) < 1e-9)
    val delta = one(PeptideFunctions.deltaMz(lit("PEPTIDE"), lit(want + 0.5), lit(2), lit(0.0)))
      .asInstanceOf[Double]
    assert(math.abs(delta - 0.5) < 1e-9)
  }

  test("ResidueMassExpr == HOF fold, bit-exact (property, incl. junk chars)") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // residue alphabet + characters OUTSIDE the mass table (digits, *, unicode)
    val chars = Gen.oneOf(("ACDEFGHIKLMNPQRSTVWYUO" + "BXZ*17é").toSeq)
    val seqs = Gen.listOf(chars).map(_.mkString)
    val prop = forAll(seqs) { s: String =>
      val rows = Seq(s).toDF("seq")
      val native = rows.select(
        graft.functions.ResidueMassExpr.residueMassCol(col("seq"))).head().getDouble(0)
      val hof = rows.select(
        PeptideFunctions.residueMassHof(col("seq"))).head().getDouble(0)
      // bit-exact: same fold order, same 0.0 for unknown characters
      java.lang.Double.doubleToLongBits(native) == java.lang.Double.doubleToLongBits(hof)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- P7 isobaric ----
  test("isobaric maps L to I") {
    assert(one(UsiFunctions.isobaric(lit("LEVELK"))) == "IEVEIK")
  }

  test("EncodePeptidoformExpr equals the Scala codec (property, incl. codegen path)") {
    import graft.functions.EncodePeptidoformExpr
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(3)
    val aas = "ACDEFGHIKLMNPQRSTVWY"
    val rows = (1 to 300).map { i =>
      val seq = (0 until (5 + rnd.nextInt(15))).map(_ => aas(rnd.nextInt(20))).mkString
      val nMods = rnd.nextInt(4)
      // position range includes NEGATIVE keys (parser junk): the map form
      // never looks them up; the kernel's sorted cursor must skip them
      // without stalling and dropping the valid later mods
      val mods = (0 until nMods)
        .map(_ => (rnd.nextInt(seq.length + 4) - 2) -> s"UNIMOD:${rnd.nextInt(40)}").toMap
      val charge = 1 + rnd.nextInt(12)
      (seq, mods, charge)
    }
    val df = rows.toDF("seq", "mods", "charge")
    val got = df.select(
      EncodePeptidoformExpr.encode(col("seq"), col("mods"), col("charge")).as("e"))
      .collect().map(_.getString(0))
    val want = rows.map { case (s, m, z) => PeptideFunctions.encodePsm(s, m, z) }
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("ModsToStructsExpr merges positions per accession (native vs schema)") {
    import graft.functions.ModsToStructsExpr
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val df = Seq(
      Map(3 -> "UNIMOD:35", 7 -> "UNIMOD:35", 0 -> "UNIMOD:1"),
      Map.empty[Int, String],
    ).toDF("mods")
    val got = df.select(ModsToStructsExpr.toStructs(col("mods")).as("m")).collect()
    val r0 = got(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("m")
    assert(r0.length == 2) // UNIMOD:1 and UNIMOD:35 (positions merged)
    val byAcc = r0.map(r => r.getAs[org.apache.spark.sql.Row]("modification")
      .getAs[String]("accession") -> r).toMap
    val m35 = byAcc("UNIMOD:35")
    val positions = m35.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("positionMap")
      .map(_.getAs[Int]("position"))
    assert(positions.toSeq == Seq(3, 7))
    assert(m35.isNullAt(m35.fieldIndex("neutralLoss")))
    assert(got(1).getAs[scala.collection.Seq[Any]]("m").isEmpty)
  }

  // ---- F13 scan-id validity ----
  test("isValidScanId: integers and WIFF ids valid, others not") {
    import graft.functions.ParamFunctions
    val cases = Seq(
      ("123", true), ("+7", true), ("scan12", false),
      ("sample=1 period=1 cycle=1 experiment=2", true), ("", false))
    cases.foreach { case (s, want) =>
      assert(one(ParamFunctions.isValidScanId(lit(s))) == want, s"for '$s'")
    }
  }

  // ---- F14 score filtering ----
  test("filterScores drops null/NaN/zero/excluded/non-numeric params") {
    import graft.functions.ParamFunctions
    val params = array(
      struct(lit("MS:1001155").as("accession"), lit("a").as("name"), lit("3.5").as("value")),
      struct(lit("MS:1002355").as("accession"), lit("b").as("name"), lit("0.01").as("value")), // excluded
      struct(lit("MS:1001171").as("accession"), lit("c").as("name"), lit("0.0").as("value")), // zero
      struct(lit("MS:1001172").as("accession"), lit("d").as("name"), lit("NaN").as("value")), // NaN
      struct(lit("MS:1001173").as("accession"), lit("e").as("name"),
        lit(null).cast("string").as("value")), // null
      struct(lit("MS:1001174").as("accession"), lit("f").as("name"), lit("high").as("value")), // non-numeric
    )
    import spark.implicits._
    val kept = Seq(1).toDF("x")
      .select(explode(ParamFunctions.filterScores(params)).as("p"))
      .select($"p.accession").collect().map(_.getString(0)).toSeq
    assert(kept == Seq("MS:1001155"))
  }

  // ---- S8 ftp rewrite ----
  test("ftpToHttps rewrites only the scheme prefix") {
    import graft.functions.ParamFunctions
    assert(one(ParamFunctions.ftpToHttps(lit("ftp://h/x ftp://y"))) == "https://h/x ftp://y")
    assert(one(ParamFunctions.ftpToHttps(lit("https://h/x"))) == "https://h/x")
  }
}

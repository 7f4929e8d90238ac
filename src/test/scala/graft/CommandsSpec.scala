package graft

import java.nio.file.Files

import graft.io.{ArchiveJson, MzIdentMlIO, PrideRest}
import graft.pipeline.FileRelations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI chain over real files: generate-index-files ->
  * spectra-json-check -> generate-mgf-files -> perform-inference,
  * plus the REST/mzid metadata commands on recorded fixtures. */
class CommandsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def write(dir: java.nio.file.Path, name: String, content: String): String = {
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  private val mztab =
    """MTD	mzTab-version	1.0.0
      |MTD	ms_run[1]-location	file://data/run1.mgf
      |PSH	sequence	PSM_ID	accession	unique	search_engine_score[1]	modifications	charge	exp_mass_to_charge	calc_mass_to_charge	spectra_ref	opt_global_cv_MS:1002217_decoy_peptide
      |PSM	PEPTIDEK	1	sp|P1	1	10.0	3-UNIMOD:35	2	458.23	458.23	ms_run[1]:index=0	0
      |PSM	ELVISLIVESK	2	sp|P1	0	9.5	null	2	607.38	607.38	ms_run[1]:index=1	0
      |PSM	ELVISLIVESK	2	sp|P2	0	9.5	null	2	607.38	607.38	ms_run[1]:index=1	0
      |PSM	AAAAKPEPR	4	sp|P2	1	9.0	null	2	456.76	456.76	ms_run[1]:index=2	0
      |PSM	DECOYPEPK	5	DECOY_P9	1	2.0	null	2	524.76	524.76	ms_run[1]:index=3	1
      |""".stripMargin

  private def mgfBlocks(n: Int): String =
    (0 until n).map { i =>
      s"""BEGIN IONS
         |TITLE=spec$i
         |PEPMASS=${400.0 + i}
         |CHARGE=2+
         |100.0\t10.0
         |200.0\t20.0
         |END IONS""".stripMargin
    }.mkString("\n") + "\n"

  test("CLI chain: index -> check -> mgf -> inference") {
    val dir = Files.createTempDirectory("graft-cli")
    val mztabPath = write(dir, "assay.mztab", mztab)
    val mgfDir = Files.createDirectory(dir.resolve("spectra"))
    write(mgfDir, "run1.mgf", mgfBlocks(4))
    val out = dir.resolve("out").toString

    Cli.run(spark, Array("generate-index-files",
      "--mztab", mztabPath, "--spectra", mgfDir.toString,
      "--project-accession", "PXDCLI", "--assay-accession", "a1",
      "--qvalue-threshold", "0.05", "--min-psms", "1",
      "--out", out))

    val spectra = ArchiveJson.readPartitioned(spark, s"$out/archive_spectra")
    assert(spectra.count() == 3) // decoy filtered at q<=0.05
    assert(spectra.select(col("batch")).distinct().head().getString(0) == "run1")

    val checked = dir.resolve("checked").toString
    Cli.run(spark, Array("spectra-json-check", "--spectra-json", s"$out/archive_spectra",
      "--out", checked))
    assert(ArchiveJson.read(spark, checked).count() == 3)

    val mgfOut = dir.resolve("mgf_out").toString
    Cli.run(spark, Array("generate-mgf-files", "--spectra-json", checked, "--out", mgfOut))
    assert(graft.io.MgfIO.read(spark, mgfOut).count() == 3)

    // MaraCluster positional contract: 3 spectra in usi order -> singletons.
    val clusters = write(dir, "clusters.tsv", "out.mgf\t0\t7\nout.mgf\t1\t8\nout.mgf\t2\t9\n")
    val infOut = dir.resolve("inference").toString
    Cli.run(spark, Array("perform-inference", "--spectra-json", checked,
      "--clusters", clusters, "--out", infOut))
    val reps = spark.read.json(s"$infOut/consensus_spectra")
    assert(reps.count() == 3)
  }

  test("generate-index-files is idempotent: re-running overwrites cleanly") {
    // restart semantics: mode(overwrite) per output (SURVEY §2.7 — the
    // reference restarts at Nextflow process granularity)
    val dir = Files.createTempDirectory("graft-idem")
    val mztabPath = write(dir, "assay.mztab", mztab)
    val mgfDir = Files.createDirectory(dir.resolve("spectra"))
    write(mgfDir, "run1.mgf", mgfBlocks(4))
    val out = dir.resolve("out").toString
    val args = Array("generate-index-files",
      "--mztab", mztabPath, "--spectra", mgfDir.toString,
      "--project-accession", "PXDIDEM", "--qvalue-threshold", "0.05",
      "--min-psms", "1", "--out", out)
    Cli.run(spark, args)
    val first = ArchiveJson.readPartitioned(spark, s"$out/archive_spectra").count()
    Cli.run(spark, args) // second run must not duplicate or fail
    val second = ArchiveJson.readPartitioned(spark, s"$out/archive_spectra").count()
    assert(first == second && first == 3)
  }

  private val mzid =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1">
      | <SequenceCollection>
      |  <DBSequence id="dbs1" accession="sp|Q1"/>
      |  <DBSequence id="dbs2" accession="DECOY_sp|Q2"/>
      |  <Peptide id="pep1"><PeptideSequence>PEPTIDEK</PeptideSequence>
      |   <Modification location="3" monoisotopicMassDelta="15.994915">
      |    <cvParam accession="UNIMOD:35" name="Oxidation" cvRef="UNIMOD"/>
      |   </Modification>
      |  </Peptide>
      |  <Peptide id="pep2"><PeptideSequence>ELVISLIVESK</PeptideSequence></Peptide>
      |  <PeptideEvidence id="ev1" peptide_ref="pep1" dBSequence_ref="dbs1" isDecoy="false"/>
      |  <PeptideEvidence id="ev2" peptide_ref="pep2" dBSequence_ref="dbs2" isDecoy="true"/>
      | </SequenceCollection>
      | <DataCollection><Inputs>
      |  <SpectraData id="sd1" location="file://data/run1.mgf">
      |   <SpectrumIDFormat><cvParam accession="MS:1000774" name="multiple peak list nativeID format"/></SpectrumIDFormat>
      |  </SpectraData>
      |  <SpectraData id="sd2" location="file://data/run2.mzML">
      |   <SpectrumIDFormat><cvParam accession="MS:1001530" name="mzML unique identifier"/></SpectrumIDFormat>
      |  </SpectraData>
      | </Inputs>
      | <AnalysisData>
      |  <SpectrumIdentificationList>
      |   <SpectrumIdentificationResult id="r1" spectrumID="index=0" spectraData_ref="sd1">
      |    <SpectrumIdentificationItem id="sii1" rank="1" chargeState="2"
      |      experimentalMassToCharge="458.23" calculatedMassToCharge="458.22" peptide_ref="pep1">
      |     <PeptideEvidenceRef peptideEvidence_ref="ev1"/>
      |     <cvParam accession="MS:1002257" name="Comet:expectation value" value="0.001"/>
      |    </SpectrumIdentificationItem>
      |   </SpectrumIdentificationResult>
      |   <SpectrumIdentificationResult id="r2" spectrumID="controllerType=0 controllerNumber=1 scan=7" spectraData_ref="sd2">
      |    <SpectrumIdentificationItem id="sii2" rank="1" chargeState="3"
      |      experimentalMassToCharge="600.0" calculatedMassToCharge="600.1" peptide_ref="pep2">
      |     <PeptideEvidenceRef peptideEvidence_ref="ev2"/>
      |     <cvParam accession="MS:1002257" name="Comet:expectation value" value="0.02"/>
      |    </SpectrumIdentificationItem>
      |   </SpectrumIdentificationResult>
      |  </SpectrumIdentificationList>
      | </AnalysisData>
      | </DataCollection>
      |</MzIdentML>
      |""".stripMargin

  test("mzIdentML parser: spectra data, peptides, evidence, scores") {
    val dir = Files.createTempDirectory("graft-mzid")
    val path = write(dir, "test.mzid", mzid)

    val sd = MzIdentMlIO.readSpectraData(spark, Seq(path)).orderBy(col("spectraDataId")).collect()
    assert(sd.length == 2)
    assert(sd(0).getAs[String]("idFormatAccession") == "MS:1000774")
    assert(sd(1).getAs[String]("location") == "file://data/run2.mzML")

    val psms = MzIdentMlIO.readPsms(spark, Seq(path)).orderBy(col("psmId")).collect()
    assert(psms.length == 2)
    val p1 = psms(0)
    assert(p1.getAs[String]("peptideSequence") == "PEPTIDEK")
    assert(p1.getAs[String]("proteinAccession") == "sp|Q1")
    assert(!p1.getAs[Boolean]("isDecoy"))
    assert(p1.getAs[Double]("score") == 0.001)
    assert(p1.getAs[Map[Int, String]]("modifications") == Map(3 -> "UNIMOD:35"))
    assert(p1.getAs[String]("sourceId") == "index=0")
    val p2 = psms(1)
    assert(p2.getAs[Boolean]("isDecoy"))
    assert(p2.getAs[String]("sourceId") == "controllerType=0 controllerNumber=1 scan=7")
  }

  test("generate-index-files from mzIdentML joins MGF spectra via SpectraData") {
    val dir = Files.createTempDirectory("graft-mzid-cli")
    val mzidPath = write(dir, "assay.mzid", mzid)
    val mgfDir = Files.createDirectory(dir.resolve("spectra"))
    write(mgfDir, "run1.mgf", mgfBlocks(2))
    val out = dir.resolve("out").toString

    // Comet expectation values: lower is better; decoy (0.02) ranks below
    // the target (0.001).
    Cli.run(spark, Array("generate-index-files",
      "--mzid", mzidPath, "--spectra", mgfDir.toString,
      "--project-accession", "PXDMZID", "--qvalue-threshold", "0.5",
      "--min-psms", "1", "--score-lower-is-better", "true",
      "--out", out))

    val spectra = ArchiveJson.readPartitioned(spark, s"$out/archive_spectra").collect()
    // sii1 (MGF index=0 -> key 1) joins; sii2 references run2.mzML which
    // is not provided, so it drops at the join.
    assert(spectra.length == 1)
    val s0 = spectra(0)
    assert(s0.getAs[String]("usi") == "mzspec:PXDMZID:run1:index:1")
    assert(s0.getAs[String]("peptidoform") == "PEP[UNIMOD:35]TIDEK/2")
    assert(!s0.getAs[Boolean]("isDecoy"))
  }

  test("generate-index-files from PRIDE XML: self-contained legacy input") {
    val dir = Files.createTempDirectory("graft-pridexml-cli")
    val xml = write(dir, "legacy_ident.xml", graft.pipeline.DemoFixtures.prideXmlIdent)
    val out = dir.resolve("out").toString

    // No --spectra: the result file itself carries the mzData spectra.
    Cli.run(spark, Array("generate-index-files",
      "--pridexml", xml,
      "--project-accession", "PXDPRIDE",
      "--qvalue-threshold", "1.0", "--protein-qvalue-threshold", "1.0",
      "--min-psms", "1", "--out", out))

    val rows = ArchiveJson.readPartitioned(spark, s"$out/archive_spectra")
      .select("usi", "peptidoform", "isDecoy", "precursorCharge", "proteinAccessions")
      .orderBy("usi").collect()
    // USI: PRIDE file type -> index scan type with the raw spectrum id;
    // cleanUsi strips the '_' from the file name (P4).
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "mzspec:PXDPRIDE:legacyident:index:1",
      "mzspec:PXDPRIDE:legacyident:index:2",
      "mzspec:PXDPRIDE:legacyident:index:3"), rows.mkString("\n"))
    // charge resolved from the spectrum precursor (the PeptideItem carries
    // no charge cvParam for PSM 1)
    assert(rows(0).getString(1) == "PEP[MOD:00696]TIDEK/2")
    assert(rows(0).getInt(3) == 2)
    // shared peptide under two accessions collapsed to ONE PSM set
    assert(rows(1).getSeq[String](4).sorted == Seq("sp|A1", "sp|A2"))
    // PRIDE:0000303 decoy-hit flag (the accession has no DECOY_ prefix need)
    assert(rows(2).getBoolean(2))

    val proteins = spark.read.json(s"$out/protein_evidence")
      .select("reportedAccession").collect().map(_.getString(0)).sorted.toSeq
    assert(proteins == Seq("DECOY_sp|A9", "sp|A1", "sp|A2"), proteins)
  }

  test("multi-mzid run: rank gate + cross-file PSM-set collapse (PIAModelerService:107-114)") {
    val out = graft.pipeline.DemoAssay.multiFileIndex(spark)
    val rows = out.archiveSpectra
      .select("usi", "peptideSequence", "isDecoy")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    // 4 rows: the overlapping spectrum (index=1 in both files) appears ONCE
    assert(rows.length == 4, rows.mkString("\n"))
    // setAllTopIdentifications(1): the rank-2 RANKTWOPEPK — whose psmId
    // sorts before the rank-1 item — must not usurp index:1
    assert(rows(0) == ("mzspec:PXDMULTI:run1:index:1", "PEPTIDEK", false))
    assert(rows(1) == ("mzspec:PXDMULTI:run1:index:2", "ELVISLIVESK", false))
    // merged-set FDR: decoy q = 1 decoy / 3 target SETS (unmerged: 1/4)
    val decoyQ = out.archiveSpectra
      .filter(col("isDecoy"))
      .select(col("bestSearchEngineScore").getField("value")).head().getString(0)
    assert(decoyQ.startsWith("0.3333"), decoyQ)
  }

  private val filesJson =
    """[
      |{"accession":"PXF1","fileName":"assay1.mzid","fileCategory":{"accession":"PRIDE:1002847","value":"RESULT"}},
      |{"accession":"PXF2","fileName":"run1.mgf","fileCategory":{"accession":"PRIDE:1002846","value":"PEAK"}},
      |{"accession":"PXF3","fileName":"junk.mztab","fileCategory":{"accession":"PRIDE:1002848","value":"RESULT"}},
      |{"accession":"PXF4","fileName":"pride.mgf","fileCategory":{"accession":"PRIDE:1002846","value":"PEAK"}}
      |]""".stripMargin

  test("perform-inference sidecar guard: stale (missing usi) and corrupt (dup usi) raise") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sidecar")
    // index the demo assay, check it, and write its spectra JSON
    val out = dir.resolve("out").toString
    val idx = graft.pipeline.DemoAssay.runIndex(spark)
    graft.io.ArchiveJson.write(idx.archiveSpectra, s"$out/spectra")
    val clusters = write(dir, "clusters.tsv", "f\t0\t1\nf\t1\t1\nf\t2\t2\n")

    // stale: sidecar covers only one usi -> missing rows must raise
    val stale = dir.resolve("stale.parquet").toString
    Seq(("mzspec:PXDTEST:run1:index:1", 0L)).toDF("usi", "index")
      .write.parquet(stale)
    val e1 = intercept[Exception](graft.pipeline.Commands.performInference(
      spark, s"$out/spectra", clusters, dir.resolve("o1").toString, Some(stale)))
    assert(e1.toString.contains("USER_RAISED_EXCEPTION") ||
      Option(e1.getCause).exists(_.toString.contains("USER_RAISED_EXCEPTION")) ||
      e1.toString.toLowerCase.contains("sidecar"), e1.toString)

    // happy path FIRST: a correct sidecar must run clean through the
    // full-join guard and produce the inference output
    val good = dir.resolve("good.parquet").toString
    Seq(("mzspec:PXDTEST:run1:index:1", 0L), ("mzspec:PXDTEST:run1:index:2", 1L),
      ("mzspec:PXDTEST:run1:index:3", 2L))
      .toDF("usi", "index").write.parquet(good)
    val reps = graft.pipeline.Commands.performInference(
      spark, s"$out/spectra", clusters, dir.resolve("ok").toString, Some(good))
    assert(reps.count() >= 1)

    // orphan: sidecar rows whose usi no longer exists in the spectra JSON
    // must raise (cluster members pointing at them would silently vanish)
    val orphan = dir.resolve("orphan.parquet").toString
    Seq(("mzspec:PXDTEST:run1:index:1", 0L), ("mzspec:PXDTEST:run1:index:2", 1L),
      ("mzspec:PXDTEST:run1:index:3", 2L), ("mzspec:PXDTEST:run1:index:9", 3L))
      .toDF("usi", "index").write.parquet(orphan)
    val e3 = intercept[Exception](graft.pipeline.Commands.performInference(
      spark, s"$out/spectra", clusters, dir.resolve("o3").toString, Some(orphan)))
    assert(e3.toString.contains("USER_RAISED_EXCEPTION") ||
      Option(e3.getCause).exists(_.toString.contains("USER_RAISED_EXCEPTION")) ||
      e3.toString.toLowerCase.contains("sidecar"), e3.toString)

    // corrupt: duplicate usi rows must raise, not fan out
    val dup = dir.resolve("dup.parquet").toString
    Seq(("mzspec:PXDTEST:run1:index:1", 0L), ("mzspec:PXDTEST:run1:index:1", 1L),
      ("mzspec:PXDTEST:run1:index:2", 2L), ("mzspec:PXDTEST:run1:index:3", 3L))
      .toDF("usi", "index").write.parquet(dup)
    val e2 = intercept[Exception](graft.pipeline.Commands.performInference(
      spark, s"$out/spectra", clusters, dir.resolve("o2").toString, Some(dup)))
    assert(e2.toString.contains("USER_RAISED_EXCEPTION") ||
      Option(e2.getCause).exists(_.toString.contains("USER_RAISED_EXCEPTION")) ||
      e2.toString.toLowerCase.contains("sidecar"))
  }

  test("REST scans on recorded fixtures: generated-file drop + F1 category filter") {
    val rest = new PrideRest(fetch = _ => filesJson)
    assert(rest.files(spark, "PXDTEST").count() == 3) // pride.mgf dropped (S4)
    val results = rest.resultFiles(spark, "PXDTEST").collect() // F1 category gate
    assert(results.map(_.getAs[String]("fileName")).toSeq == Seq("assay1.mzid"))
  }

  test("file relations: J2 basename match with anti-join guard, J3 contains join") {
    import spark.implicits._
    val declared = Seq(("sd1", "file://x/Run1.mzML.gz"), ("sd2", "data/run2.mgf"))
      .toDF("spectraDataId", "location")
    val provided = Seq("/work/run1.mzML", "/work/RUN2.mgf").toDF("path")
    val related = FileRelations.relateProvidedFiles(declared, provided)
      .orderBy(col("spectraDataId")).collect()
    assert(related.map(_.getAs[String]("path")).toSeq ==
      Seq("/work/run1.mzML", "/work/RUN2.mgf"))

    val missing = Seq(("sd3", "nowhere.mgf")).toDF("spectraDataId", "location")
    assertThrows[IllegalStateException](
      FileRelations.relateProvidedFiles(missing, provided).collect())

    val projectFiles = Seq("PXD-run2.mgf", "other.raw").toDF("fileName")
    val sd = Seq(("sd2", "data/run2.mgf")).toDF("spectraDataId", "location")
    val j3 = FileRelations.relateProjectFiles(projectFiles, sd).collect()
    assert(j3.length == 1 && j3(0).getAs[String]("fileName") == "PXD-run2.mgf")
  }

  test("CLI arg parser: strict pairing, bare boolean flags, stray tokens error") {
    // a trailing bare flag must be read as true, not silently dropped
    assert(graft.Cli.parseArgs(Array("cmd", "--out", "O", "--picked-protein-fdr")) ==
      Map("out" -> "O", "picked-protein-fdr" -> "true"))
    // a bare flag mid-line must not swallow the next option as its value
    assert(graft.Cli.parseArgs(Array("cmd", "--exact-mgf", "--out", "O")) ==
      Map("exact-mgf" -> "true", "out" -> "O"))
    // explicit values still work
    assert(graft.Cli.parseArgs(Array("cmd", "--exact-mgf", "false")) ==
      Map("exact-mgf" -> "false"))
    // stray non-option tokens are an error, not a silent drop
    intercept[IllegalArgumentException](graft.Cli.parseArgs(Array("cmd", "stray")))
    // a value-typed option with a forgotten value is an ERROR — a trailing
    // '--out' must not silently write the index to a dir named 'true'
    intercept[IllegalArgumentException](graft.Cli.parseArgs(Array("cmd", "--out")))
    intercept[IllegalArgumentException](
      graft.Cli.parseArgs(Array("cmd", "--out", "--exact-mgf")))
    // an option the command does not take is an ERROR, before any work: a
    // misspelled threshold must not write the index at the default 0.01
    val dir = Files.createTempDirectory("graft-cli-typo")
    val e = intercept[IllegalArgumentException](graft.Cli.run(spark, Array(
      "generate-index-files", "--mztab", "missing.mztab", "--spectra", "missing",
      "--project-accession", "PXDCLI", "--qvalue-treshold", "0.05",
      "--out", dir.resolve("out").toString)))
    assert(e.getMessage.contains("does not take --qvalue-treshold"), e.getMessage)
    assert(!Files.exists(dir.resolve("out")))
    // an option of another command is unknown here too
    intercept[IllegalArgumentException](graft.Cli.run(spark, Array(
      "generate-mgf-files", "--spectra-json", "s", "--out", "o", "--native-cluster")))
  }

  test("generate-index-files releases the index caches it built") {
    val dir = Files.createTempDirectory("graft-cli-cache")
    val mgfDir = Files.createDirectory(dir.resolve("spectra"))
    write(mgfDir, "run1.mgf", mgfBlocks(4))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    Cli.run(spark, Array("generate-index-files",
      "--mztab", write(dir, "assay.mztab", mztab), "--spectra", mgfDir.toString,
      "--project-accession", "PXDCLI", "--qvalue-threshold", "0.05", "--min-psms", "1",
      "--out", dir.resolve("out").toString))
    assert(ArchiveJson.readPartitioned(spark, s"$dir/out/archive_spectra").count() == 3)
    assert(persisted == before)
  }

  test("perform-inference --native-cluster: standalone path, no MaraCluster TSV") {
    val dir = Files.createTempDirectory("graft-native-inf")
    val out = dir.resolve("out").toString
    val idx = graft.pipeline.DemoAssay.runIndex(spark)
    graft.io.ArchiveJson.write(idx.archiveSpectra, s"$out/spectra")

    // Tight tolerance (default 0.05): the three demo spectra (pmz 400/
    // 401/402, identical peaks) stay apart -> three singleton clusters,
    // each pure, three representatives.
    val tight = graft.pipeline.Commands.performInferenceNative(
      spark, s"$out/spectra", dir.resolve("tight").toString)
    assert(tight.count() == 3, tight.collect().mkString("\n"))

    // Loose tolerance (2.0): all three merge into ONE cluster (identical
    // peaks -> cosine 1; 400<->402 closes transitively through 401) whose
    // three isobaric-DISTINCT sequences make it impure -> zero
    // representatives. The cluster STRUCTURE drives the difference, so
    // this differentiates the native clusterer inside the command.
    val loose = graft.pipeline.Commands.performInferenceNative(
      spark, s"$out/spectra", dir.resolve("loose").toString,
      cfg = graft.operators.SpectraCluster.Config(precursorTol = 2.0))
    assert(loose.count() == 0, loose.collect().mkString("\n"))

    // CLI surface: --native-cluster and --clusters are mutually exclusive.
    val e = intercept[IllegalArgumentException](graft.Cli.run(spark, Array(
      "perform-inference", "--spectra-json", s"$out/spectra",
      "--clusters", "x.tsv", "--native-cluster", "--out", dir.resolve("x").toString)))
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }
}

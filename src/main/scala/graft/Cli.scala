package graft

import graft.io.PrideRest
import graft.pipeline.{Commands, IndexPipeline}
import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's six commands
  * (ArchiveMoleculesIndexer.java:28-30) with `--key value` options. */
object Cli {

  /** The options that are genuine bare flags — only these may appear with
    * no value (reading as "true"). Every other option is value-typed: a
    * missing value (end of line, or the next token is another option) is
    * an ERROR, not "true" — a trailing `--out` with a forgotten path must
    * fail loudly, not write the index to a directory literally named
    * `true`. An explicit `--flag false` stays supported. */
  private[graft] val BooleanFlags: Set[String] = Set(
    "score-lower-is-better", "distributed-fdr", "picked-protein-fdr",
    "protein-score-from-fdrscore", "exact-mgf", "native-cluster")

  /** Strict `--key value` / bare `--flag` parser: a stray non-option token
    * or a mis-paired window is an ERROR, not a silent drop — the old
    * sliding(2,2) form silently discarded a trailing bare flag (shipping
    * an index without the option the operator asked for). Only options in
    * [[BooleanFlags]] may omit their value. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 1
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"),
        s"unexpected argument '$k' (options are --key value)\n$usage")
      val key = k.stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out(key) = args(i + 1); i += 2
      } else {
        require(BooleanFlags(key),
          s"option --$key needs a value\n$usage")
        out(key) = "true"; i += 1
      }
    }
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    // GraftSession respects spark-submit's --master/--conf: env vars win,
    // then the submit conf, then the local defaults
    val spark = GraftSession.builder(s"graft-${args.head}").getOrCreate()
    try run(spark, args)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val cmd = args.head
    val o = parseArgs(args)
    def req(k: String): String =
      o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k\n$usage"))

    cmd match {
      case "generate-index-files" =>
        val cfg = IndexPipeline.IndexConfig(
          projectAccession = req("project-accession"),
          assayAccession = o.getOrElse("assay-accession", "assay1"),
          reanalysisAccession = o.get("reanalysis-accession"),
          qValueThreshold = o.get("qvalue-threshold").map(_.toDouble).getOrElse(0.01),
          proteinQThreshold = o.get("protein-qvalue-threshold").map(_.toDouble).getOrElse(0.01),
          peptideLength = o.get("peptide-length").map(_.toInt).getOrElse(7),
          minPsms = o.get("min-psms").map(_.toLong).getOrElse(1000L),
          uniquePeptides = o.get("unique-peptides").map(_.toInt).getOrElse(0),
          scoreLowerIsBetter = o.get("score-lower-is-better").exists(_.toBoolean),
          distributedFdr = o.get("distributed-fdr").exists(_.toBoolean),
          pickedProteinFdr = o.get("picked-protein-fdr").exists(_.toBoolean),
          proteinScoreFromPsmFdrScore =
            o.get("protein-score-from-fdrscore").exists(_.toBoolean),
          decoyPrefix = o.getOrElse("decoy-prefix", "DECOY_"),
          globalSampleProps = o.get("global-sample-props").map(_.split(";").toSeq
            .filter(_.contains("="))
            .map { kv => val parts = kv.split("=", 2); (parts(0).trim, parts(1).trim) })
            .getOrElse(Seq.empty),
        )
        val exactMgf = o.get("exact-mgf").exists(_.toBoolean)
        val inputs = Seq("mztab", "mzid", "pridexml").flatMap(k => o.get(k).map(k -> _))
        val out = inputs match {
          case Seq(("mztab", mztab)) =>
            Commands.generateIndexFiles(
              spark, mztab, req("spectra"), req("out"), cfg, o.get("sdrf"), exactMgf)
          case Seq(("mzid", mzid)) =>
            Commands.generateIndexFilesFromMzid(
              spark, mzid.split(",").toSeq, req("spectra"), req("out"), cfg,
              o.get("sdrf"), exactMgf)
          case Seq(("pridexml", xml)) =>
            // PRIDE XML is self-contained (spectra + identifications in one
            // file): --spectra is optional and defaults to the result files
            Commands.generateIndexFilesFromPrideXml(
              spark, xml.split(",").toSeq, req("out"), cfg, o.get("sdrf"),
              o.get("spectra"))
          case Seq() =>
            throw new IllegalArgumentException(
              s"need --mztab, --mzid or --pridexml\n$usage")
          case many =>
            throw new IllegalArgumentException(
              s"${many.map("--" + _._1).mkString(" and ")} are mutually exclusive\n$usage")
        }
        val v = out.validity.head()
        println(s"[graft] nr_psms=${v.getAs[Long]("nr_psms")} nr_decoys=${v.getAs[Long]("nr_decoys")}")
        // F9 assay gate (PrideAnalysisAssayService.java:477-480)
        if (v.getAs[Long]("nr_decoys") == 0)
          System.err.println("[graft] WARNING: no decoys found — assay invalid under F9")
        if (v.getAs[Long]("nr_psms") <= cfg.minPsms)
          System.err.println(s"[graft] WARNING: psms <= ${cfg.minPsms} — assay below minPSMs gate")

      case "perform-inference" =>
        if (o.contains("native-cluster")) {
          require(!o.contains("clusters"),
            s"--clusters and --native-cluster are mutually exclusive\n$usage")
          Commands.performInferenceNative(
            spark, req("spectra-json"), req("out"), o.get("index"),
            graft.operators.SpectraCluster.Config(
              precursorTol = o.get("precursor-tol").map(_.toDouble).getOrElse(0.05),
              minCosine = o.get("min-cosine").map(_.toDouble).getOrElse(0.7)))
        } else
          Commands.performInference(spark, req("spectra-json"), req("clusters"), req("out"),
            o.get("index"))

      case "generate-mgf-files" =>
        Commands.generateMgf(spark, req("spectra-json"), req("out"))

      case "spectra-json-check" =>
        val n = Commands.spectraJsonCheck(spark, req("spectra-json"), req("out"))
        println(s"[graft] valid_spectra=$n")

      case "get-result-files" =>
        Commands.getResultFiles(spark, new PrideRest(), req("project-accession"), req("out"))

      case "get-related-files" =>
        val rest = new PrideRest()
        val files = rest.files(spark, req("project-accession"))
        Commands.getRelatedFiles(spark, req("mzid").split(",").toSeq, files, req("out"))

      case other =>
        throw new IllegalArgumentException(s"unknown command: $other\n$usage")
    }
  }

  val usage: String =
    """usage: graft.Cli <command> [--key value ...]
      |  get-result-files    --project-accession PXD... --out DIR
      |  get-related-files   --project-accession PXD... --mzid a.mzid[,b.mzid] --out DIR
      |  generate-index-files (--mztab F | --mzid a.mzid[,b.mzid] | --pridexml a.xml[,b.xml])
      |                       --spectra DIR (optional for --pridexml: defaults
      |                       to the self-contained result files)
      |                       --project-accession PXD... [--assay-accession A]
      |                       [--reanalysis-accession RPXD...]
      |                       [--qvalue-threshold 0.01] [--peptide-length 7]
      |                       [--protein-qvalue-threshold 0.01]
      |                       [--min-psms 1000] [--score-lower-is-better]
      |                       [--unique-peptides 0] [--distributed-fdr]
      |                       [--picked-protein-fdr]
      |                       [--protein-score-from-fdrscore]
      |                       [--exact-mgf] [--sdrf F] [--decoy-prefix DECOY_]
      |                       --out DIR
      |                       [--global-sample-props "organism=Homo sapiens;disease=..."]
      |  perform-inference   --spectra-json DIR --out DIR
      |                       (--clusters TSV | --native-cluster
      |                        [--precursor-tol 0.05] [--min-cosine 0.7])
      |                       [--index MGF_INDEX_SIDECAR]
      |  generate-mgf-files  --spectra-json DIR --out DIR
      |  spectra-json-check  --spectra-json DIR --out DIR
      |""".stripMargin
}

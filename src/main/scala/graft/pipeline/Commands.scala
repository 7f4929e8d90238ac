package graft.pipeline

import graft.io._
import graft.functions.UsiFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's six CLI commands (ArchiveMoleculesIndexer.java:28-30) as
  * library entry points over the Spark engine. Each is a thin composition
  * of the io/pipeline layers; [[Cli]] exposes them as a `main`. */
object Commands {

  /** Derive (fileName, fileType, idFormat) per ms_run from mzTab MTD
    * locations (FileType.getFileTypeFromFileName,
    * SubmissionPipelineUtils.java:106-128; id-format per type per the
    * SpectraData conventions — MGF is index-addressed, mzML scan-addressed). */
  def msRunFileInfo(msRuns: DataFrame): DataFrame = {
    val (fileName, fileType, idFormat) = spectraFile(col("location"))
    msRuns.select(col("msRun"), fileName, fileType, idFormat.as("idFormat"))
  }

  /** The `fileName` and `fileType` columns of the spectra file a result
    * file's `location` names, plus the id format its extension implies.
    * fileName must match the DECOMPRESSED spectra file the scan read (the
    * reference normalizes with returnUnCompressPath before matching,
    * SubmissionPipelineUtils.java:174-179) — keep the .gz/.zip suffix and
    * the J1 join silently matches nothing. */
  private def spectraFile(location: Column): (Column, Column, Column) = {
    val base = regexp_replace(element_at(split(location, "/"), -1), "\\.(gz|zip)$", "")
    val lowerBase = lower(base)
    (base.as("fileName"), fileTypeFromName(lowerBase).as("fileType"), idFormatFromName(lowerBase))
  }

  /** Every format `readSpectraDir` can load must be reachable from the
    * result-file metadata too (FileType.getFileTypeFromFileName,
    * SubmissionPipelineUtils.java:106-142 — cv accessions MS:1001062 MGF,
    * MS:1000584 mzML, MS:1000566 mzXML, MS:1000565 PKL, MS:1001466 MS2,
    * MS:1000613 DTA, MS:1002996 APL). */
  private[pipeline] def fileTypeFromName(lowerBase: org.apache.spark.sql.Column) =
    when(lowerBase.endsWith("mgf"), "MGF")
      .when(lowerBase.endsWith("mzml"), "MZML")
      .when(lowerBase.endsWith("mzxml"), "MZXML")
      .when(lowerBase.endsWith("pkl"), "PKL")
      .when(lowerBase.endsWith("ms2"), "MS2")
      .when(lowerBase.endsWith("dta"), "DTA")
      .when(lowerBase.endsWith("apl"), "APL")
      .when(lowerBase.endsWith("xml"), "PRIDE") // cv MS:1002600
      .otherwise("UNKNOWN")

  /** Peak-list formats are index-addressed (the jmzReader `+1` rule);
    * mzML is scan-addressed; mzXML uses its integral scan number (the
    * native-id normalization extracts a scan= token or keeps the raw id). */
  private[pipeline] def idFormatFromName(lowerBase: org.apache.spark.sql.Column) =
    when(lowerBase.endsWith("mzml"), UsiFunctions.IdFormat.MzmlId)
      .when(lowerBase.endsWith("mzxml"), UsiFunctions.IdFormat.SpectrumNativeId)
      .when(
        lowerBase.endsWith("mgf") || lowerBase.endsWith("pkl") ||
          lowerBase.endsWith("ms2") || lowerBase.endsWith("dta") ||
          lowerBase.endsWith("apl"),
        UsiFunctions.IdFormat.MultiPeakListNativeId)
      .otherwise(UsiFunctions.IdFormat.None)

  /** Union all spectra files under a directory: MGF and PKL via splittable
    * text block scans, mzML via the StAX task-per-file parser. Each source
    * carries its `fileType` for J1 key derivation. */
  def readSpectraDir(spark: SparkSession, dir: String, exactMgf: Boolean = false): DataFrame = {
    val all = {
      val d = new java.io.File(dir)
      if (d.isDirectory) d.listFiles().toSeq.map(_.getPath) else Seq(dir)
    }
    def named(suffix: String) = all.filter(_.toLowerCase.endsWith(suffix))
    val parts = Seq(
      Option(named(".mgf")).filter(_.nonEmpty).map { f =>
        val mgf = if (exactMgf) MgfIO.readExact(spark, f.mkString(","))
          else MgfIO.readPaths(spark, f)
        mgf.withColumn("fileType", lit("MGF"))
      },
      Option(named(".pkl")).filter(_.nonEmpty).map(f =>
        PklIO.readPaths(spark, f).withColumn("fileType", lit("PKL"))),
      Option(named(".mzml")).filter(_.nonEmpty).map(f =>
        MzMlIO.read(spark, f).withColumn("fileType", lit("MZML"))),
      Option(named(".mzxml")).filter(_.nonEmpty).map(f =>
        MzXmlIO.read(spark, f).withColumn("fileType", lit("MZXML"))),
      Option(named(".ms2")).filter(_.nonEmpty).map(f =>
        Ms2DtaIO.readMs2Paths(spark, f).withColumn("fileType", lit("MS2"))),
      Option(named(".dta")).filter(_.nonEmpty).map(f =>
        Ms2DtaIO.readDta(spark, f.mkString(",")).withColumn("fileType", lit("DTA"))),
      Option(named(".apl")).filter(_.nonEmpty).map(f =>
        AplIO.readPaths(spark, f).withColumn("fileType", lit("APL"))),
      // bare .xml in a spectra dir is PRIDE XML (the reference's FileType
      // fallback, SubmissionPipelineUtils.java:121-124)
      Option(named(".xml")).filter(_.nonEmpty).map(f =>
        PrideXmlIO.read(spark, f).withColumn("fileType", lit("PRIDE"))),
    ).flatten
    require(parts.nonEmpty,
      s"no spectra files (.mgf/.pkl/.mzML/.mzXML/.ms2/.dta/.apl/.xml) under $dir")
    parts.reduce(_ unionByName _)
  }

  /** generate-index-files (mzTab + MGF slice): parse, join run metadata,
    * run the index DAG and write its tables ([[writeIndex]]).
    * Reference: PrideAnalysisAssayService.writeAnalysisOutputFromResultFiles:242-304. */
  def generateIndexFiles(
      spark: SparkSession,
      mzTabPath: String,
      mgfDir: String,
      outDir: String,
      cfg: IndexPipeline.IndexConfig,
      sdrfPath: Option[String] = None,
      exactMgf: Boolean = false,
  ): IndexPipeline.IndexOutputs = {
    val psmsRaw = MzTabIO.standardPsms(
      MzTabIO.readPsmSection(spark, mzTabPath), cfg.decoyPrefix)
    val runInfo = broadcast(msRunFileInfo(MzTabIO.readMsRuns(spark, mzTabPath)))
    val psms = psmsRaw.join(runInfo, Seq("msRun"), "left")
    writeIndex(psms, readSpectraDir(spark, mgfDir, exactMgf), sdrfPath, cfg, outDir)
  }

  /** Runs the index DAG and writes the three JSON-lines tables (K1), the
    * archive spectra partitioned per source file (K2). */
  private def writeIndex(
      psms: DataFrame,
      spectra: DataFrame,
      sdrfPath: Option[String],
      cfg: IndexPipeline.IndexConfig,
      outDir: String,
  ): IndexPipeline.IndexOutputs = {
    val out = IndexPipeline.run(psms, spectra,
      sdrfPath.map(SideInputs.readSdrf(psms.sparkSession, _)), cfg)
    ArchiveJson.writePartitioned(out.archiveSpectra, s"$outDir/archive_spectra")
    ArchiveJson.write(out.psmSummaries, s"$outDir/psm_summaries")
    ArchiveJson.write(out.proteinEvidence, s"$outDir/protein_evidence")
    out
  }

  /** generate-index-files from mzIdentML (the reference's primary input,
    * PIAModelerService.java:162-189): PSMs join their SpectraData
    * declaration (broadcast — a handful of rows per file) to derive the
    * spectra file name, id format (J1 key normalization), and file type. */
  def generateIndexFilesFromMzid(
      spark: SparkSession,
      mzidPaths: Seq[String],
      spectraDir: String,
      outDir: String,
      cfg: IndexPipeline.IndexConfig,
      sdrfPath: Option[String] = None,
      exactMgf: Boolean = false,
  ): IndexPipeline.IndexOutputs = {
    // one StAX pass per file serves both frames (psms + SpectraData)
    val (psmsRaw, sdRaw, releaseParsed) = MzIdentMlIO.readParsed(spark, mzidPaths)
    val sd = sdRaw.withColumnRenamed("file", "mzidFile")
    val (fileName, fileType, idFormatByName) = spectraFile(col("location"))
    val declared = UsiFunctions.IdFormat.fromAccession(col("idFormatAccession"))
    val sdInfo = sd.select(
      col("mzidFile"), col("spectraDataId"), fileName, fileType,
      // The declared SpectrumIDFormat wins; fall back to the extension
      // mapping when the cvParam is absent/unknown.
      when(declared =!= UsiFunctions.IdFormat.None, declared)
        .otherwise(idFormatByName).as("idFormat"))

    val joined = psmsRaw
      .join(broadcast(sdInfo),
        psmsRaw("file") === sdInfo("mzidFile") &&
          psmsRaw("spectraDataRef") === sdInfo("spectraDataId"))
      .withColumn("retentionTime", lit(null).cast("double"))
      // SII ids (SII_1_1) are file-scoped: prefix with the mzid file so a
      // multi-file run never merges distinct PSMs under one psmId (the
      // pipeline's per-psmId dedup window and FDR tiebreak both key on it).
      .withColumn("psmId", concat(col("file"), lit(":"), col("psmId")))

    // Multi-file runs follow the reference's combined-inference setup
    // (PIAModelerService.performInference:107-114): only rank-1
    // identifications enter (setAllTopIdentifications(1)), and PSMs from
    // different result files that identify the SAME spectrum as the same
    // peptide/charge merge into one PSM set (createPSMSets(true)). The
    // set's scalar identity (psmId, score, masses, rt) comes from its
    // best-scoring member, but the protein accessions are the UNION of
    // every member's PeptideEvidence — PIA's intermediate structure
    // aggregates a peptide's accessions across all files, so evidence
    // attested only by a losing file must not vanish with its rows.
    // The downstream FDR then calibrates over sets, not per-file
    // duplicates. (Different-peptide identifications of one spectrum stay
    // separate sets, as in PIA; the per-USI output merge resolves them.)
    // Single-file runs keep the flat path — no added window — matching
    // performFilteringInference's setAllTopIdentifications(0).
    val combined =
      if (mzidPaths.sizeIs <= 1) joined
      else {
        import org.apache.spark.sql.expressions.Window
        val better =
          if (cfg.scoreLowerIsBetter) col("score").asc else col("score").desc
        // PIA's set identity includes the MODIFICATIONS: the same
        // spectrum/sequence/charge carrying different mods stays separate
        // sets. Maps are unorderable in a window key — canonicalize to a
        // sorted "pos=acc" string (deterministic whatever the map's
        // internal entry order).
        val modsKey = concat_ws(",", array_sort(transform(
          map_entries(col("modifications")),
          e => concat(e.getField("key").cast("string"), lit("="), e.getField("value")))))
        val wOrd = Window.partitionBy(col("fileName"), col("sourceId"),
          col("peptideSequence"), col("charge"), col("_modsKey"))
          .orderBy(better, col("psmId"))
        joined
          .filter(col("rank") <= 1)
          .withColumn("_modsKey", modsKey)
          .withColumn("_bPsmId", first(col("psmId")).over(wOrd))
          .withColumn("_bScore", first(col("score")).over(wOrd))
          .withColumn("_bExp", first(col("expMassToCharge")).over(wOrd))
          .withColumn("_bCalc", first(col("calcMassToCharge")).over(wOrd))
          .withColumn("_bRt", first(col("retentionTime")).over(wOrd))
          // idFormat is a DECLARED cvParam and can genuinely conflict
          // between files referencing the same spectra file — take the
          // best member's, like the other scalars, so the merged set's
          // scanKey/USI normalization is deterministic. (fileType needs no
          // window: it derives purely from the location basename, which IS
          // the partition key fileName, so it is constant within the set.)
          .withColumn("_bIdFormat", first(col("idFormat")).over(wOrd))
          // one row per (set, accession): losing members' accessions
          // survive, scalar fields come from the windowed best member
          // (constant within the set after the `first` projections;
          // modifications are value-equal within the set — _modsKey is a
          // canonical serialization and part of the group key)
          .groupBy(col("fileName"), col("sourceId"), col("peptideSequence"),
            col("charge"), col("_modsKey"), col("proteinAccession"))
          .agg(max(col("isDecoy")).as("isDecoy"),
            first(col("_bPsmId")).as("psmId"),
            first(col("_bScore")).as("score"),
            first(col("_bExp")).as("expMassToCharge"),
            first(col("_bCalc")).as("calcMassToCharge"),
            first(col("_bRt")).as("retentionTime"),
            first(col("modifications")).as("modifications"),
            first(col("_bIdFormat")).as("idFormat"),
            first(col("fileType")).as("fileType"))
          .drop("_modsKey")
      }

    val psms = combined
      .select("psmId", "peptideSequence", "proteinAccession", "isDecoy", "score",
        "charge", "expMassToCharge", "calcMassToCharge", "modifications",
        "sourceId", "fileName", "idFormat", "fileType", "retentionTime")

    // releaseParsed in finally: a failing write would otherwise skip it
    // and pin the full parsed-XML RDD in MEMORY_AND_DISK until session
    // end. On success the outputs above have materialized the pipeline
    // caches, so the raw parse RDD has no remaining readers either way.
    try writeIndex(psms, readSpectraDir(spark, spectraDir, exactMgf), sdrfPath, cfg, outDir)
    finally releaseParsed()
  }

  /** generate-index-files from legacy PRIDE XML result files — the last
    * identification input the reference accepts (through PIA/jmzReader's
    * PRIDEXmlWrapper, JmzReaderSpectrumService.java:43-45). PRIDE XML is
    * self-contained: the SAME file carries the mzData spectra and the
    * identification sections, so `spectraDir` defaults to the result files
    * themselves. Charge / experimental m/z live on the spectrum precursor
    * in this format — PeptideItem-level values win when a writer emitted
    * them, else they are resolved here from the matched spectrum (join on
    * the raw spectrum id, the same key J1 uses for the PRIDE file type). */
  def generateIndexFilesFromPrideXml(
      spark: SparkSession,
      xmlPaths: Seq[String],
      outDir: String,
      cfg: IndexPipeline.IndexConfig,
      sdrfPath: Option[String] = None,
      spectraDir: Option[String] = None,
  ): IndexPipeline.IndexOutputs = {
    val psmsRaw = PrideXmlIO.readIdentifications(spark, xmlPaths, cfg.decoyPrefix)
    val spectra = spectraDir.map(readSpectraDir(spark, _))
      .getOrElse(PrideXmlIO.read(spark, xmlPaths).withColumn("fileType", lit("PRIDE")))
    val prec = spectra.select(col("fileName"), col("scanId").as("sourceId"),
      col("precursorCharge").as("_specCharge"), col("precursorMz").as("_specMz"))
    val psms = psmsRaw
      .join(prec, Seq("fileName", "sourceId"), "left")
      .withColumn("charge",
        coalesce(col("charge"), when(col("_specCharge") =!= 0, col("_specCharge"))))
      .withColumn("expMassToCharge",
        coalesce(col("expMassToCharge"), when(col("_specMz") =!= 0.0, col("_specMz"))))
      // a PeptideItem with no engine score term and no Identification
      // <Score> fallback enters the FDR at 0.0 (same default the mzid
      // reader applies to a score-less SII)
      .withColumn("score", coalesce(col("score"), lit(0.0)))
      .withColumn("calcMassToCharge", lit(null).cast("double"))
      .withColumn("retentionTime", lit(null).cast("double"))
      .withColumn("idFormat", lit(graft.functions.UsiFunctions.IdFormat.None))
      .withColumn("fileType", lit("PRIDE"))
      .select("psmId", "peptideSequence", "proteinAccession", "isDecoy", "score",
        "charge", "expMassToCharge", "calcMassToCharge", "modifications",
        "sourceId", "fileName", "idFormat", "fileType", "retentionTime")
    writeIndex(psms, spectra, sdrfPath, cfg, outDir)
  }

  /** Index sidecar location for an MGF output dir: the (usi, index)
    * mapping persisted at write time — the J4 positional contract carried
    * explicitly, never re-derived post-hoc (SURVEY §7.4 item 4). */
  def mgfIndexSidecar(mgfOutDir: String): String = s"$mgfOutDir.index"

  /** perform-inference: validated spectra JSON + MaraCluster TSV ->
    * re-inferred tables (SURVEY §3.2). The positional contract (J4) uses
    * the explicit per-row index persisted by [[generateMgf]]'s sidecar
    * when available; otherwise it is re-derived with the distributed
    * range-sort rank (same usi order the MGF writer used — no
    * single-task global window either way). */
  def performInference(
      spark: SparkSession,
      spectraJsonDir: String,
      clustersPath: String,
      outDir: String,
      indexSidecar: Option[String] = None,
  ): DataFrame = {
    val indexed = indexedSpectra(spark, spectraJsonDir, indexSidecar)
    val clusters = SideInputs.readMaraCluster(spark, clustersPath)
    SideInputs.assertUniqueSpectrumIndex(clusters)
    val out = ClusterInference.run(indexed, clusters)
    val reps = out.representatives
    ArchiveJson.write(reps, s"$outDir/consensus_spectra")
    reps
  }

  /** perform-inference WITHOUT the external clustering tool: the validated
    * spectra JSON carries the peak arrays, so the native clusterer
    * ([[graft.operators.SpectraCluster]]) replaces the MaraCluster TSV —
    * cluster ids are derived in-plan and fed to the same A10-A12
    * inference. The positional contract is trivially consistent: the
    * cluster input keys on the SAME `index` column the member join uses,
    * so no sidecar/order mismatch can exist between clusterer and
    * inference (the TSV path's whole failure class). */
  def performInferenceNative(
      spark: SparkSession,
      spectraJsonDir: String,
      outDir: String,
      indexSidecar: Option[String] = None,
      cfg: graft.operators.SpectraCluster.Config = graft.operators.SpectraCluster.Config(),
  ): DataFrame = {
    val indexed = indexedSpectra(spark, spectraJsonDir, indexSidecar)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val clusterInput = indexed.select(
        col("index").as("specId"), col("precursorMz"),
        col("precursorCharge"), col("masses"), col("intensities"))
      val clusters = graft.operators.SpectraCluster.clusterSpectra(clusterInput, cfg)
        .select(col("specId").as("spectrumIndex"), col("clusterId"))
      val out = ClusterInference.run(indexed, clusters)
      val reps = out.representatives
      ArchiveJson.write(reps, s"$outDir/consensus_spectra")
      reps
    } finally indexed.unpersist()
  }

  /** Shared by both inference paths: archive spectra with the per-row
    * positional `index` (sidecar-validated when provided, range-sort
    * derived otherwise). */
  private def indexedSpectra(
      spark: SparkSession,
      spectraJsonDir: String,
      indexSidecar: Option[String],
  ): DataFrame = {
    val spectra = ArchiveJson.read(spark, spectraJsonDir)
      .withColumn("score", col("bestSearchEngineScore.value").cast("double"))
    indexSidecar match {
      case Some(path) =>
        // A stale/mismatched sidecar (e.g. regenerated spectra JSON) must
        // fail loudly, not silently corrupt the inference input — in every
        // direction: a MISSING usi would drop spectra at an inner join, a
        // DUPLICATE usi would fan spectra out through it, and an ORPHAN
        // sidecar usi means the positional contract covers spectra that no
        // longer exist (cluster members pointing at them would silently
        // vanish downstream). Duplicate/missing checks are plan-level: the
        // sidecar is grouped per usi (raising on duplicates), then
        // left-joined (raising on holes).
        val side = spark.read.parquet(path)
          .groupBy(col("usi"))
          .agg(min(col("index")).as("index"), count(lit(1)).as("_n"))
          .withColumn("index",
            when(col("_n") === 1, col("index")).otherwise(raise_error(concat(
              lit(s"corrupt MGF index sidecar $path: duplicate rows for usi "), col("usi")))))
          .drop("_n")
        // The orphan check is EAGER (one tiny anti-join job over the
        // sidecar): an in-plan raise on the orphan row would only fire if
        // a consumer evaluated `index` for that row — a downstream filter
        // dropping orphan rows first would silently skip it.
        val orphan = side.join(spectra.select(col("usi")), Seq("usi"), "left_anti")
          .select(col("usi")).limit(1).collect()
        if (orphan.nonEmpty) throw new IllegalStateException(
          s"stale MGF index sidecar $path: orphan index row for usi ${orphan(0).getString(0)}")
        // The duplicate/hole raises live INSIDE the `index` column, which
        // every downstream consumer evaluates (the cluster join keys on
        // it) — a check in a separate dropped column would be pruned away
        // with it.
        spectra.join(side, Seq("usi"), "left")
          .withColumn("index",
            when(col("index").isNull, raise_error(concat(
              lit(s"stale MGF index sidecar $path: no index row for usi "), col("usi"))))
              .otherwise(col("index")))
      case None =>
        graft.operators.GlobalIndex.withGlobalIndex(spectra, Seq(col("usi")), "index")
    }
  }

  /** generate-mgf-files: spectra JSON -> MGF (K3), ordered by usi so the
    * written order IS the cluster index contract; the (usi, index) map is
    * persisted next to the MGF ([[mgfIndexSidecar]]) so downstream
    * inference reads the contract instead of re-deriving it. */
  def generateMgf(spark: SparkSession, spectraJsonDir: String, outDir: String): Unit = {
    val spectra = ArchiveJson.read(spark, spectraJsonDir)
    MgfIO.write(
      spectra.select(col("usi"), col("peptidoform"), col("precursorMz"),
        col("precursorCharge"), col("masses"), col("intensities")),
      Seq(col("usi")), outDir)
    graft.operators.GlobalIndex
      .withGlobalIndex(spectra.select(col("usi")), Seq(col("usi")), "index")
      .write.mode("overwrite").parquet(mgfIndexSidecar(outDir))
  }

  /** spectra-json-check: validity-rewrite pass (F12). */
  def spectraJsonCheck(spark: SparkSession, spectraJsonDir: String, outDir: String): Long = {
    val valid = ArchiveJson.validate(ArchiveJson.read(spark, spectraJsonDir))
    ArchiveJson.write(valid, outDir)
    valid.count()
  }

  /** get-result-files: REST scan -> result-file TSV (K4). */
  def getResultFiles(spark: SparkSession, rest: PrideRest, accession: String, outDir: String): DataFrame = {
    val files = rest.resultFiles(spark, accession)
    files.write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(outDir)
    files
  }

  /** get-related-files: mzid SpectraData -> related project files TSV. */
  def getRelatedFiles(
      spark: SparkSession, mzidPaths: Seq[String], projectFiles: DataFrame, outDir: String): DataFrame = {
    val sd = MzIdentMlIO.readSpectraData(spark, mzidPaths)
      .select(col("spectraDataId"), col("location"))
    val related = FileRelations.relateProjectFiles(projectFiles, sd)
    related.write.mode("overwrite").option("sep", "\t").option("header", "true").csv(outDir)
    related
  }
}

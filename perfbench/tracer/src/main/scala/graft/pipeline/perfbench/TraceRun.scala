package graft.pipeline.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Cli
import graft.fdr.{CombinedFdr, ProteinInference, TargetDecoy}
import graft.io.{ArchiveJson, MgfIO, MzIdentMlIO}
import graft.operators.{GlobalIndex, SpectraCluster}
import graft.pipeline.{ClusterInference, Commands, IndexPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import perfbench.{Jvm, Tracer}

/** The single-JVM run behind `run.py --trace 1`.
  *
  * `--mode plain` runs the program's own commands through the public
  * `graft.Cli.run`, one per line of the `--commands` file (name, then the
  * CLI arguments, tab-separated), in production order in this JVM.
  *
  * `--mode traced` composes the layer functions in the order those
  * commands compose them (Commands.generateIndexFilesFromMzid,
  * spectraJsonCheck, generateMgf, performInferenceNative) and drives each
  * call to completion inside its own span, writing the same output tree.
  * To give each layer its own time it persists and counts some
  * intermediate results the program leaves lazy, and the multi-file
  * PSM-set merge is a copy of the one in generateIndexFilesFromMzid, so
  * its figures do not follow a change to the program's merge (the output
  * checks do: the traced outputs must equal the plain ones). Layers that
  * the commands reach only inside `IndexPipeline.run` (the FDR and the
  * protein inference) are called again on the same PSMs after the index
  * command, in spans outside the command spans; their time is not part of
  * the traced wall.
  *
  * Usage: TraceRun --workload assay_chain|project_many_files --mode plain
  *   --commands FILE
  * or: TraceRun --workload W --mode traced --mzid a.mzid[,b.mzid]
  *   --spectra DIR --out DIR --spans FILE
  * The last stdout line is `PERFBENCH {json}`: command walls and, when
  * traced, layer self times, counters and Spark/JVM totals. */
object TraceRun {

  val Project = "PXD000001"

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    // the same session settings as graft.Cli.main
    val builder = SparkSession.builder()
      .appName(s"perfbench-${o("workload")}")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = builder.getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val summary =
        if (o("mode") == "plain") {
          val walls = cliChain(spark, o("commands"))
          json(Seq("session_s" -> sessionS, "wall_s" -> walls.map(_._2).sum) ++
            walls.map { case (k, v) => s"cmd.${k}_s" -> v })
        } else {
          val t = new Tracer(spark, s"${o("workload")}-${System.currentTimeMillis()}")
          val run = new TraceRun(spark, t, o("out"))
          run.index(o("mzid").split(",").toSeq, o("spectra"))
          if (o("workload") == "assay_chain") {
            run.check()
            run.mgf()
            run.inference()
          }
          run.summary(sessionS, t.report(o("spans")))
        }
      println("PERFBENCH " + summary)
    } finally spark.stop()
  }

  /** Runs each command line of `file` through graft.Cli.run; returns the
    * wall of each command by name. */
  def cliChain(spark: SparkSession, file: String): Seq[(String, Double)] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val name +: argv = line.split("\t").toSeq: @unchecked
      val a = System.nanoTime()
      Cli.run(spark, argv.toArray)
      name -> (System.nanoTime() - a) / 1e9
    }

  def json(fields: Iterable[(String, Double)]): String =
    fields.map { case (k, v) => s"${Tracer.q(k)}:${Tracer.num(v)}" }.mkString("{", ",", "}")
}

final class TraceRun(spark: SparkSession, t: Tracer, out: String) {
  import TraceRun.Project

  private val cmdWall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var validity = (0L, 0L) // (nr_psms, nr_decoys) of the index command
  private val cfg = IndexPipeline.IndexConfig(projectAccession = Project, assayAccession = "assay1")

  private def cmd[T](name: String)(body: => T): T = {
    val a = System.nanoTime()
    try t.span(s"cmd.$name")(body)
    finally cmdWall(name) = (System.nanoTime() - a) / 1e9
  }

  private def pinned(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  private def dirMb(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum / 1048576.0
  }

  private def jsonWrite(what: String, df: DataFrame, path: String, partitioned: Boolean = false): Unit =
    t.span("io.json_write") {
      t.drive(what, df) { d =>
        if (partitioned) ArchiveJson.writePartitioned(d, path) else ArchiveJson.write(d, path)
      }
      t.count("io.json_mb", dirMb(path))
    }

  /** generate-index-files --mzid (Commands.generateIndexFilesFromMzid). */
  def index(mzids: Seq[String], spectraDir: String): Unit = {
    val idx = s"$out/idx"
    var release: () => Unit = () => ()
    var outputs: IndexPipeline.IndexOutputs = null
    var psms: DataFrame = null
    cmd("index") {
      val (psmsRaw, sdRaw, rel) = t.span("io.mzid_parse") {
        val r = t.construct(MzIdentMlIO.readParsed(spark, mzids))
        t.count("io.mzid_rows", t.drive("mzid psms", r._1)(_.count()).toDouble)
        r
      }
      release = rel
      // counted, not persisted: IndexPipeline.run reads the spectra itself
      val spectra = t.span("io.spectra_read") {
        val df = t.construct(Commands.readSpectraDir(spark, spectraDir))
        t.count("io.spectra_rows", t.drive("spectra", df)(_.count()).toDouble)
        df
      }
      psms = psmRows(psmsRaw, sdRaw, mzids.size)
      outputs = t.span("pipeline.index_build") {
        t.construct(IndexPipeline.run(psms, spectra, None, cfg))
      }
      t.span("pipeline.index_outputs") {
        val v = t.drive("validity", outputs.validity)(_.head())
        validity = (v.getAs[Long]("nr_psms"), v.getAs[Long]("nr_decoys"))
        t.count("pipeline.archive_rows",
          t.drive("archive rows", outputs.archiveSpectra)(_.count()).toDouble)
        jsonWrite("archive_spectra", outputs.archiveSpectra, s"$idx/archive_spectra", partitioned = true)
        jsonWrite("psm_summaries", outputs.psmSummaries, s"$idx/psm_summaries")
        jsonWrite("protein_evidence", outputs.proteinEvidence, s"$idx/protein_evidence")
      }
    }
    fdrProbe(psms)
    proteinProbe(outputs.archiveSpectra)
    outputs.unpersist()
    release()
  }

  /** The PSM frame generateIndexFilesFromMzid hands to IndexPipeline.run:
    * SpectraData join, file-scoped psmId and, for several result files,
    * the PSM-set merge. */
  private def psmRows(psmsRaw: DataFrame, sdRaw: DataFrame, files: Int): DataFrame = {
    val sd = sdRaw.withColumnRenamed("file", "mzidFile")
    val base = regexp_replace(element_at(split(col("location"), "/"), -1), "\\.(gz|zip)$", "")
    val lowerBase = lower(base)
    val idFormat = graft.functions.UsiFunctions.IdFormat
    val sdInfo = sd.select(col("mzidFile"), col("spectraDataId"), base.as("fileName"),
      Commands.fileTypeFromName(lowerBase).as("fileType"),
      when(idFormat.fromAccession(col("idFormatAccession")) =!= idFormat.None,
        idFormat.fromAccession(col("idFormatAccession")))
        .otherwise(Commands.idFormatFromName(lowerBase)).as("idFormat"))
    val joined = psmsRaw
      .join(broadcast(sdInfo),
        psmsRaw("file") === sdInfo("mzidFile") && psmsRaw("spectraDataRef") === sdInfo("spectraDataId"))
      .withColumn("retentionTime", lit(null).cast("double"))
      .withColumn("psmId", concat(col("file"), lit(":"), col("psmId")))
    val combined =
      if (files <= 1) joined
      else t.span("pipeline.psm_merge") {
        // counted, not persisted: IndexPipeline.run plans the merge itself
        val merged = t.construct(mergePsmSets(joined))
        val rows = t.drive("merge input", joined.filter(col("rank") <= 1))(
          _.select(col("psmId")).distinct().count())
        val sets = t.drive("psm sets", merged)(_.select(col("psmId")).distinct().count())
        t.count("pipeline.merge_rows_in", rows.toDouble)
        t.count("pipeline.merge_sets", sets.toDouble)
        merged
      }
    combined.select("psmId", "peptideSequence", "proteinAccession", "isDecoy", "score",
      "charge", "expMassToCharge", "calcMassToCharge", "modifications",
      "sourceId", "fileName", "idFormat", "fileType", "retentionTime")
  }

  /** A copy of Commands.generateIndexFilesFromMzid's multi-file PSM-set
    * merge (the program has it inline, not as a function of its own). */
  private def mergePsmSets(joined: DataFrame): DataFrame = {
    val better = if (cfg.scoreLowerIsBetter) col("score").asc else col("score").desc
    val modsKey = concat_ws(",", array_sort(transform(map_entries(col("modifications")),
      e => concat(e.getField("key").cast("string"), lit("="), e.getField("value")))))
    val wOrd = Window.partitionBy(col("fileName"), col("sourceId"), col("peptideSequence"),
      col("charge"), col("_modsKey")).orderBy(better, col("psmId"))
    joined
      .filter(col("rank") <= 1)
      .withColumn("_modsKey", modsKey)
      .withColumn("_bPsmId", first(col("psmId")).over(wOrd))
      .withColumn("_bScore", first(col("score")).over(wOrd))
      .withColumn("_bExp", first(col("expMassToCharge")).over(wOrd))
      .withColumn("_bCalc", first(col("calcMassToCharge")).over(wOrd))
      .withColumn("_bRt", first(col("retentionTime")).over(wOrd))
      .withColumn("_bIdFormat", first(col("idFormat")).over(wOrd))
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

  /** The PSM-level FDR the index pipeline runs, called on its own over the
    * same PSMs (one row per psmId, decoy only when every accession is). */
  private def fdrProbe(psms: DataFrame): Unit = t.span("fdr.qvalue") {
    val psmsU = psms.groupBy(col("psmId")).agg(
      min(col("isDecoy")).as("isDecoy"), first(col("score")).as("score"),
      first(col("peptideSequence")).as("peptideSequence"), first(col("sourceId")).as("sourceId"))
    val repaired = t.construct {
      val scored = TargetDecoy.withQValues(psmsU, Seq.empty, col("score"), col("isDecoy"),
        col("psmId"), lowerIsBetter = cfg.scoreLowerIsBetter)
      TargetDecoy.repairZeroQValuesAll(
        CombinedFdr.withFdrScoreFromCounts(scored, col("isDecoy")),
        Seq(col("q_value") -> "q", col("fdr_score") -> "fdrScore"))
    }
    val passed = col("q") <= cfg.qValueThreshold
    val r = t.drive("fdr", repaired)(_.agg(
      count(lit(1)),
      sum(when(passed, 1L).otherwise(0L)),
      sum(when(passed && length(col("peptideSequence")) >= cfg.peptideLength &&
        col("sourceId") =!= "index=null", 1L).otherwise(0L))).head())
    t.count("fdr.psms", r.getLong(0).toDouble)
    t.count("fdr.passed", r.getLong(1).toDouble)
    t.count("fdr.past_filters", r.getLong(2).toDouble)
  }

  /** Protein inference (Occam's razor and the inference categories the
    * index pipeline uses) over the archive's peptidoform-protein pairs. */
  private def proteinProbe(archive: DataFrame): Unit = t.span("fdr.protein") {
    val pairs = archive.select(lit(cfg.assayAccession).as("assay"),
      col("peptidoform").as("peptide"), explode(col("proteinAccessions")).as("protein"))
    t.drive("occams razor", t.construct(ProteinInference.occamsRazor(pairs)))(_.count())
    t.drive("inference categories", t.construct(ProteinInference.inferenceCategories(pairs)))(_.count())
  }

  private def readJson(what: String, dir: String, validate: Boolean = false): DataFrame =
    t.span("io.json_read") {
      val df = pinned(t.construct {
        val raw = ArchiveJson.read(spark, dir)
        if (validate) ArchiveJson.validate(raw) else raw
      })
      t.drive(what, df)(_.count())
      df
    }

  /** spectra-json-check (Commands.spectraJsonCheck). */
  def check(): Unit = cmd("check") {
    val valid = readJson("validated spectra", s"$out/idx/archive_spectra", validate = true)
    jsonWrite("valid", valid, s"$out/valid")
    valid.unpersist()
  }

  /** generate-mgf-files (Commands.generateMgf). */
  def mgf(): Unit = cmd("mgf") {
    val spectra = readJson("spectra", s"$out/valid")
    t.span("io.mgf_write") {
      t.drive("mgf", spectra.select(col("usi"), col("peptidoform"), col("precursorMz"),
        col("precursorCharge"), col("masses"), col("intensities")))(
        MgfIO.write(_, Seq(col("usi")), s"$out/mgf"))
    }
    t.span("operators.global_index") {
      val idx = t.construct(GlobalIndex.withGlobalIndex(spectra.select(col("usi")), Seq(col("usi")), "index"))
      t.drive("mgf index sidecar", idx)(_.write.mode("overwrite").parquet(Commands.mgfIndexSidecar(s"$out/mgf")))
    }
    spectra.unpersist()
  }

  /** perform-inference --native-cluster without a sidecar
    * (Commands.performInferenceNative). */
  def inference(): Unit = cmd("inference") {
    val spectra = readJson("spectra", s"$out/valid")
      .withColumn("score", col("bestSearchEngineScore.value").cast("double"))
    val indexed = t.span("operators.global_index") {
      val df = pinned(t.construct(GlobalIndex.withGlobalIndex(spectra, Seq(col("usi")), "index")))
      t.drive("indexed spectra", df)(_.count())
      df
    }
    val clusters = t.span("operators.cluster") {
      val input = indexed.select(col("index").as("specId"), col("precursorMz"),
        col("precursorCharge"), col("masses"), col("intensities"))
      val c = pinned(t.construct(SpectraCluster.clusterSpectra(input,
        SpectraCluster.Config(precursorTol = 0.05, minCosine = 0.7))
        .select(col("specId").as("spectrumIndex"), col("clusterId"))))
      t.drive("clusters", c)(_.count())
      // spanning-forest edges: members that are not their cluster's id
      t.count("operators.cluster_edges",
        c.filter(col("spectrumIndex") =!= col("clusterId")).count().toDouble)
      c
    }
    t.span("pipeline.cluster_inference") {
      val reps = pinned(t.construct(ClusterInference.run(indexed, clusters).representatives))
      t.drive("representatives", reps)(_.count())
      jsonWrite("consensus_spectra", reps, s"$out/inf/consensus_spectra")
      reps.unpersist()
    }
    clusters.unpersist()
    indexed.unpersist()
    spectra.unpersist()
  }

  /** One JSON object: command walls, layer self times, counters, totals. */
  def summary(sessionS: Double, totals: Map[String, Double]): String = {
    def attr(k: String): Double = t.spans.iterator.map(_.attrs.getOrElse(k, 0.0)).sum
    val self = t.spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(t.selfSeconds).sum }
    val counts = Seq("io.mzid_rows", "io.spectra_rows", "io.json_mb", "query.construct_s",
      "query.plan_s", "query.execute_s", "fdr.psms", "fdr.passed", "fdr.past_filters",
      "pipeline.archive_rows", "pipeline.merge_rows_in", "pipeline.merge_sets",
      "operators.cluster_edges").map(k => k -> attr(k))
    val jvm = Jvm.snapshot().values
    val fields = Seq("session_s" -> sessionS, "wall_s" -> cmdWall.values.sum,
      "nr_psms" -> validity._1.toDouble, "nr_decoys" -> validity._2.toDouble) ++
      cmdWall.map { case (k, v) => s"cmd.${k}_s" -> v } ++
      self.map { case (k, v) => s"self.$k" -> v } ++ counts ++ jvm ++ totals
    TraceRun.json(fields)
  }
}

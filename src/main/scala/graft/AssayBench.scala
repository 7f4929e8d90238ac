package graft

import graft.pipeline.IndexPipeline
import org.apache.spark.sql.functions._

/** Single-assay throughput benchmark against the reference envelope.
  *
  * The largest observed assay in the reference corpus is 800,790 PSMs
  * (BASELINE.md: PXD003613), processed within a 4-CPU / 14 GB / 10 h
  * Nextflow task. This main synthesizes an assay of SPARK_GRAFT_NPSMS
  * PSMs (default 800,000, ~20 peptides repeated per spectrum pattern,
  * 10% decoys, 60-peak spectra) and runs the full generate-index-files
  * DAG — FDR, repair, filters, scan-key join, USI/peptidoform, delta-mass,
  * protein evidence — materializing through the noop sink.
  *
  * Prints one JSON line: {"metric":"assay_index_sec", ...}.
  */
object AssayBench {
  def main(args: Array[String]): Unit = {
    val nPsms = sys.env.getOrElse("SPARK_GRAFT_NPSMS", "800000").toInt
    // SPARK_GRAFT_RESCUE=1: every PSM id misses the exact scan-key join and
    // resolves through the stage-2 unique-contains rescue instead
    // (scanKeyJoin's probe collect + broadcast contains-theta join at the
    // scale of the whole assay — the worst legal case under the 1M
    // RescueLookupCap). Spectrum ids are "S" + the 9-digit zero-padded
    // index; PSM sourceIds are the bare padded index, so exact keys never
    // match, every probe is contained in exactly ONE scanId (fixed-width
    // padding: a scanId holds one 9-digit window), and the uniqueness gate
    // passes all of them. NOTE the theta join is O(|probes| * |spectra|)
    // string-contains by design — rescue rows are malformed-id noise in
    // real assays; this measures the cliff, run it on 32 CPUs.
    val rescueAll = sys.env.get("SPARK_GRAFT_RESCUE")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val spark = GraftSession.harness("graft-assaybench")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nSpectra = nPsms // one spectrum per PSM
    val aas = "ACDEFGHIKLMNPQRSTVWY"

    val psms = spark.range(nPsms.toLong).select(
      col("id").cast("string").as("psmId"),
      concat_ws("", (0 until 12).map(i =>
        substring(lit(aas), (pmod(col("id") * (i + 7), lit(20)) + 1).cast("int"), lit(1))): _*)
        .as("peptideSequence"),
      concat(lit("sp|PROT"), pmod(col("id"), lit(2000)).cast("string")).as("proteinAccession"),
      (pmod(col("id"), lit(10)) === 0).as("isDecoy"),
      // decoys score low so the FDR gate passes most targets — the bench
      // must drive the join/projection stages with realistic volume
      when(pmod(col("id"), lit(10)) === 0, rand(42) * 10)
        .otherwise(lit(20.0) + rand(43) * 80).as("score"),
      (pmod(col("id"), lit(3)) + 2).cast("int").as("charge"),
      (lit(400.0) + pmod(col("id"), lit(1000)) / 2.0).as("expMassToCharge"),
      (lit(400.0) + pmod(col("id"), lit(1000)) / 2.0).as("calcMassToCharge"),
      when(pmod(col("id"), lit(5)) === 0, map(lit(3), lit("UNIMOD:35")))
        .otherwise(map().cast("map<int,string>")).as("modifications"),
      (if (rescueAll) lpad(col("id").cast("string"), 9, "0")
       else concat(lit("index="), col("id").cast("string"))).as("sourceId"),
      lit(if (rescueAll) "run1.mzML" else "run1.mgf").as("fileName"),
      lit(if (rescueAll) graft.functions.UsiFunctions.IdFormat.MzmlId
          else graft.functions.UsiFunctions.IdFormat.MultiPeakListNativeId).as("idFormat"),
      lit(if (rescueAll) "MZML" else "MGF").as("fileType"),
      lit(null).cast("double").as("retentionTime"),
    )

    val peaks = sequence(lit(1), lit(60))
    val spectra = spark.range(nSpectra.toLong).select(
      lit(if (rescueAll) "run1.mzML" else "run1.mgf").as("fileName"),
      col("id").as("index"),
      (if (rescueAll) concat(lit("S"), lpad(col("id").cast("string"), 9, "0"))
       else col("id").cast("string")).as("scanId"),
      lit("t").as("title"),
      lit(2).as("msLevel"),
      (lit(400.0) + pmod(col("id"), lit(1000)) / 2.0).as("precursorMz"),
      lit(2).as("precursorCharge"),
      (col("id") % 3600).cast("double").as("retentionTime"),
      transform(peaks, p => p.cast("double") * 10.0).as("masses"),
      transform(peaks, p => p.cast("double")).as("intensities"),
    ).withColumn("fileType", lit(if (rescueAll) "MZML" else "MGF"))

    val cfg = IndexPipeline.IndexConfig(
      projectAccession = "PXDBENCH", assayAccession = "bench",
      qValueThreshold = 0.05, minPsms = 1)

    // Per-stage WALL + process-CPU (verdict r7 item 7: two identical-code
    // runs spanned 441-761 s under co-tenancy; CPU barely moves under
    // contention, so stage wall>>stage cpu/threads reads as a noisy box,
    // not a regression — same mechanism as Bench's per-query cpu map).
    val osBean = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])
    def time[A](f: => A): (A, Double, Double) = {
      val t0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime
      val r = f
      (r, (System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
    }
    val t0 = System.nanoTime()
    val cpu0 = osBean.getProcessCpuTime
    // Stage attribution: `build` runs the eager pre-count + plan
    // construction; the first sink drive pays the shared FDR + join +
    // projection DAG (cached at perPsm), the later drives reuse it.
    val (out, tBuild, cBuild) = time(IndexPipeline.run(psms, spectra, None, cfg))
    val (_, tSpectra, cSpectra) = time(
      out.archiveSpectra.write.format("noop").mode("overwrite").save())
    val (_, tSummaries, cSummaries) = time(
      out.psmSummaries.write.format("noop").mode("overwrite").save())
    val (_, tProteins, cProteins) = time(
      out.proteinEvidence.write.format("noop").mode("overwrite").save())
    val (v, tValidity, cValidity) = time(out.validity.head())
    val sec = (System.nanoTime() - t0) / 1e9
    val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
    // rescue mode: every output row came through stage 2 — count them so
    // the probe path's effectiveness is part of the record, not just time
    val rescuedRows = if (rescueAll) out.archiveSpectra.count() else -1L
    println(f"""{"metric":"assay_index_sec","value":$sec%.1f,"unit":"sec","cpu_sec":$cpuSec%.1f,"n_psms":$nPsms,"cpus":${GraftSession.cpus},"rescue_mode":$rescueAll,"rescued_rows":$rescuedRows,"out_psms":${v.getAs[Long]("nr_psms")},"nr_decoys":${v.getAs[Long]("nr_decoys")},"stages":{"build_precount":$tBuild%.1f,"archive_spectra":$tSpectra%.1f,"psm_summaries":$tSummaries%.1f,"protein_evidence":$tProteins%.1f,"validity":$tValidity%.1f},"stages_cpu":{"build_precount":$cBuild%.1f,"archive_spectra":$cSpectra%.1f,"psm_summaries":$cSummaries%.1f,"protein_evidence":$cProteins%.1f,"validity":$cValidity%.1f}}""")
    spark.stop()
  }
}

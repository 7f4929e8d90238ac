package graft

import graft.functions.TextFunctions
import graft.operators._
import graft.pipeline.IndexPipeline
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The scale benches, one per operator family:
  *
  *   sbt "runMain graft.Harness <bench> [size]"
  *
  * Each bench synthesizes a deterministic input of `size` rows (default
  * [[DefaultSizes]]), times its stages and prints one JSON line:
  * `{"metric":"harness","bench","size",<bench figures>,"total_sec",
  * "total_cpu_sec","stages":{<name>:{"count","sec","cpu_sec","gc_sec","runs"}}}`
  * ([[Stage]]). Each stage also logs a progress line to stderr, so a run cut short
  * still leaves its evidence. With `$SPARK_GRAFT_SF_DIR` set, `ann` adds
  * an `ann_recall_sf` line: recall@k on that scale factor's embeddings.
  */
object Harness {

  val DefaultSizes: Map[String, Long] = Map(
    "assay" -> 800000L, "assay-rescue" -> 800000L, "cluster" -> 500000L,
    "temporal" -> 20000000L, "event" -> 20000000L, "corpus" -> 500000L, "ann" -> 1000000L)

  val usage: String =
    s"usage: graft.Harness <${DefaultSizes.keys.toSeq.sorted.mkString("|")}> [size]"

  def main(args: Array[String]): Unit = {
    val (bench, size) = parse(args)
    // 10M-vector ANN runs on a big heap see full-GC pauses that outlast the
    // 10 s default heartbeat; a missed beat tears the context down
    val spark = GraftSession.harness(s"graft-harness-$bench",
      "spark.executor.heartbeatInterval" -> "60s", "spark.network.timeout" -> "600s")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, bench, size, sys.env.get("SPARK_GRAFT_SF_DIR"))(println)
    finally spark.stop()
  }

  /** `<bench> [size]`, the size defaulting to the bench's full scale. */
  private[graft] def parse(args: Array[String]): (String, Long) = {
    require(args.length == 1 || args.length == 2, usage)
    val bench = args(0)
    require(DefaultSizes.contains(bench), s"unknown bench '$bench'\n$usage")
    val size = args.lift(1).map(_.toLong).getOrElse(DefaultSizes(bench))
    require(size > 0, s"size must be positive\n$usage")
    (bench, size)
  }

  /** Runs one bench and hands each JSON line to `emit` as it is ready. */
  def run(spark: SparkSession, bench: String, size: Long, sfDir: Option[String] = None)(
      emit: String => Unit): Unit = {
    val stages = new Stages(bench)
    val figures: Seq[(String, Any)] = bench match {
      case "assay" => assay(spark, size, rescueAll = false, stages)
      case "assay-rescue" => assay(spark, size, rescueAll = true, stages)
      case "cluster" => cluster(spark, size, stages)
      case "temporal" => temporal(spark, size, stages)
      case "event" => event(spark, size, stages)
      case "corpus" => corpus(spark, size, stages)
      case "ann" => ann(spark, size, stages)
    }
    emit(stages.json(size, figures))
    if (bench == "ann") sfDir.foreach(dir => emit(annRecallSf(spark, dir)))
  }

  /** The stages of one run, in the order they ran. */
  private final class Stages(bench: String) {
    private val done = scala.collection.mutable.ArrayBuffer.empty[Stage]

    /** Times `runs` runs of `f` as stage `name`, each after an
      * off-the-clock GC (dead persist/checkpoint blocks of the previous
      * stage otherwise inflate this one: bm25 measured 26 s after the span
      * stages vs 1.6 s isolated), and records `count` of the first run's
      * result, which it returns. */
    def of[A](name: String, runs: Int = 1)(f: => A)(count: A => Long): A = {
      val rs = (1 to runs).map { _ => System.gc(); Stage.measure(f) }
      val best = rs.map(_._2).minBy(_.wallSec)
      val s = Stage(name, count(rs.head._1), rs.map(_._2.wallSec), best.cpuSec, best.gcSec)
      System.err.println(s"[harness] $bench ${s.name} ${Stage.d3(s.sec)} s count=${s.count}")
      done += s
      rs.head._1
    }

    def apply(name: String, runs: Int = 1)(f: => Long): Long = of(name, runs)(f)(identity)

    def sec(name: String): Double = done.find(_.name == name).get.sec

    def json(size: Long, figures: Seq[(String, Any)]): String = {
      def value(v: Any): String = v match {
        case d: Double => Stage.d3(d)
        case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case other => other.toString
      }
      val head = Seq("metric" -> "harness", "bench" -> bench, "size" -> size) ++ figures ++ Seq(
        "total_sec" -> done.map(_.sec).sum, "total_cpu_sec" -> done.map(_.cpuSec).sum)
      head.map { case (k, v) => s""""$k":${value(v)}""" }
        .mkString("{", ",", ",\"stages\":") + done.map(_.json).mkString("{", ",", "}}")
    }
  }

  /** Persists a synthetic input and materializes it before any timing. */
  private def synthesized(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK).count()
    df
  }

  /** Drives `ds` through the noop sink (full materialization: a count lets
    * Catalyst prune columns) and returns the rows it wrote. */
  private def sink(ds: Dataset[_]): Long = {
    val rows = Observation()
    ds.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  /** The reference's largest observed assay is 800,790 PSMs (BASELINE.md:
    * PXD003613), budgeted a 4-CPU / 14 GB / 10 h Nextflow task. This
    * synthesizes `nPsms` PSMs (~20 peptides repeated per spectrum pattern,
    * 10% decoys, 60-peak spectra, one spectrum per PSM) and runs the full
    * generate-index-files DAG (FDR, repair, filters, scan-key join,
    * USI/peptidoform, delta-mass, protein evidence) into the noop sink.
    * `build_precount` runs the eager pre-count and plan construction (its
    * count is the PSMs handed in); the first sink pays the shared FDR +
    * join + projection DAG (cached at perPsm), the later ones reuse it.
    *
    * `rescueAll`: every PSM id misses the exact scan-key join and resolves
    * through the stage-2 unique-contains rescue instead (the probe collect
    * plus broadcast contains-theta join at the scale of the whole assay,
    * the worst legal case under the 1M RescueLookupCap). Spectrum ids are
    * "S" + the 9-digit zero-padded index and PSM sourceIds the bare padded
    * index, so exact keys never match, every probe is contained in exactly
    * one scanId (fixed-width padding: a scanId holds one 9-digit window),
    * and the uniqueness gate passes all of them; every written row is then
    * a rescued one. The theta join is O(|probes| * |spectra|)
    * string-contains by design (rescue rows are malformed-id noise in real
    * assays): this measures the cliff, run it on 32 CPUs. */
  private def assay(spark: SparkSession, nPsms: Long, rescueAll: Boolean,
      s: Stages): Seq[(String, Any)] = {
    val aas = "ACDEFGHIKLMNPQRSTVWY"
    val IdFormat = graft.functions.UsiFunctions.IdFormat
    val (fileName, fileType, idFormat) =
      if (rescueAll) ("run1.mzML", "MZML", IdFormat.MzmlId)
      else ("run1.mgf", "MGF", IdFormat.MultiPeakListNativeId)
    val mz = lit(400.0) + pmod(col("id"), lit(1000)) / 2.0
    val psms = spark.range(nPsms).select(
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
      mz.as("expMassToCharge"),
      mz.as("calcMassToCharge"),
      when(pmod(col("id"), lit(5)) === 0, map(lit(3), lit("UNIMOD:35")))
        .otherwise(map().cast("map<int,string>")).as("modifications"),
      (if (rescueAll) lpad(col("id").cast("string"), 9, "0")
       else concat(lit("index="), col("id").cast("string"))).as("sourceId"),
      lit(fileName).as("fileName"),
      lit(idFormat).as("idFormat"),
      lit(fileType).as("fileType"),
      lit(null).cast("double").as("retentionTime"),
    )

    val peaks = sequence(lit(1), lit(60))
    val spectra = spark.range(nPsms).select(
      lit(fileName).as("fileName"),
      col("id").as("index"),
      (if (rescueAll) concat(lit("S"), lpad(col("id").cast("string"), 9, "0"))
       else col("id").cast("string")).as("scanId"),
      lit("t").as("title"),
      lit(2).as("msLevel"),
      mz.as("precursorMz"),
      lit(2).as("precursorCharge"),
      (col("id") % 3600).cast("double").as("retentionTime"),
      transform(peaks, p => p.cast("double") * 10.0).as("masses"),
      transform(peaks, p => p.cast("double")).as("intensities"),
    ).withColumn("fileType", lit(fileType))

    val cfg = IndexPipeline.IndexConfig(
      projectAccession = "PXDBENCH", assayAccession = "bench",
      qValueThreshold = 0.05, minPsms = 1)

    val out = s.of("build_precount")(IndexPipeline.run(psms, spectra, None, cfg))(_ => nPsms)
    val archived = s("archive_spectra")(sink(out.archiveSpectra))
    s("psm_summaries")(sink(out.psmSummaries))
    s("protein_evidence")(sink(out.proteinEvidence))
    val v = s.of("validity")(out.validity.head())(_ => 1L)
    out.unpersist()
    Seq("cpus" -> GraftSession.cpus, "rescue_mode" -> rescueAll,
      "rescued_rows" -> (if (rescueAll) archived else -1L),
      "out_psms" -> v.getAs[Long]("nr_psms"), "nr_decoys" -> v.getAs[Long]("nr_decoys"))
  }

  /** Synthesizes `nSpectra` deterministic spectra (hash-derived peaks, no
    * RNG) with planted near-duplicate runs and times
    * [[SpectraCluster.clusterSpectra]] end to end (binning kernel,
    * candidate equi-join, cosine gate, connected components): evidence that
    * the inverted-index candidate plan (never all-pairs) holds when the
    * corpus stops being toy-sized.
    *
    * Every run of 5 consecutive ids shares a base spectrum (the planted
    * cluster): members keep the base's precursor slot with +0.004*k m/z
    * jitter (inside the 0.02 tolerance) and get k small intensity bumps, so
    * expected clusters are ~n/5 in size-5 components plus the unmatched
    * tail. `cluster` counts the clusters; `top_sizes` is the histogram of
    * the most common cluster sizes. */
  private def cluster(spark: SparkSession, nSpectra: Long, s: Stages): Seq[(String, Any)] = {
    val nPeaks = 60
    // Groups of 5 consecutive ids share the base id 5*(id/5); intensities
    // are hash-derived from the BASE id (so group members agree
    // bin-for-bin), with k tiny bumps per member.
    val g = col("id") - pmod(col("id"), lit(5L)) // base id of the group
    val k = pmod(col("id"), lit(5L))             // member index within it
    def inten(i: Int) =
      pmod(xxhash64(g * lit(nPeaks) + lit(i)), lit(900L)).cast("double") + lit(100.0) +
        when(pmod(lit(i.toLong), lit(5L)) === k, lit(3.0)).otherwise(lit(0.0))
    val spectra = synthesized(spark.range(nSpectra).select(
      col("id").as("specId"),
      (lit(2) + pmod(g, lit(3L))).cast("int").as("precursorCharge"),
      // ~25k distinct precursor slots, 0.04 apart (2x the 0.02 tol), so
      // same-group members land in one slot and different groups rarely
      // collide; member jitter stays inside the tolerance.
      (lit(400.0) + pmod(xxhash64(g), lit(25000L)).cast("double") * lit(0.04) +
        k.cast("double") * lit(0.004)).as("precursorMz"),
      transform(sequence(lit(0), lit(nPeaks - 1)),
        i => lit(100.0) + i.cast("double") * lit(2.0)).as("masses"),
      array((0 until nPeaks).map(inten): _*).as("intensities")))

    val cfg = SpectraCluster.Config(
      binWidth = 1.0, topPeaks = 20, candidateBins = 6,
      precursorTol = 0.02, minCosine = 0.95)

    s("edges")(SpectraCluster.similarityEdges(spectra, cfg).count())
    val hist = s.of("cluster") {
      val assigned = SpectraCluster.clusterSpectra(spectra, cfg)
      val sizes = assigned.groupBy(col("clusterId")).agg(count(lit(1)).as("sz"))
      sizes.groupBy(col("sz")).agg(count(lit(1)).as("clusters"))
        .orderBy(col("sz").desc).collect().map(r => (r.getLong(0), r.getLong(1)))
    }(_.map(_._2).sum)
    spectra.unpersist()
    Seq("top_sizes" -> hist.take(8).map { case (sz, n) => s"size=${sz}x$n" }.mkString(", "))
  }

  // the event soups of `temporal` and `event`: 100k users over 30 days
  private val Users = 100000L
  private val SpanMicros = 30L * 24 * 3600 * 1000000

  /** Synthesizes `nEvents` events (deterministic hash-derived timestamps
    * over 30 days, 100k users; 20M is 2000x the sf0.1 events table) and
    * times the as-of join, the binned range join, blocked fuzzy pairing of
    * `nEvents / 20` names and the windowed drift monitor: the check that
    * the union+running-window and bin-equi-join shapes hold when both
    * sides are fact-sized. */
  private def temporal(spark: SparkSession, nEvents: Long, s: Stages): Seq[(String, Any)] = {
    // deterministic event soup: ~half probes ("click"), half references
    // ("purchase"); timestamps hash-scattered over the span
    val events = synthesized(spark.range(nEvents).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(Users)).as("user_id"),
      pmod(xxhash64(col("id") + lit(7)), lit(SpanMicros)).as("tsu"),
      (pmod(xxhash64(col("id") + lit(13)), lit(2)) === 0).as("is_probe"),
      (pmod(xxhash64(col("id") + lit(17)), lit(10000)) / lit(100.0)).as("value")))

    val probes = events.filter(col("is_probe"))
      .select(col("user_id"), col("event_id"), col("tsu"), col("value"))
    val refs = events.filter(!col("is_probe"))
      .groupBy(col("user_id"), col("tsu").as("rts"))
      .agg(max(col("value")).as("ref_value"))

    s("asof") {
      AsOfJoin.asOf(probes, refs, Seq("user_id"), "tsu", "rts")
        .filter(col("ref_value").isNotNull).count()
    }
    s("asof_nearest") {
      AsOfJoin.asOf(probes, refs, Seq("user_id"), "tsu", "rts", direction = "nearest")
        .filter(col("ref_value").isNotNull).count()
    }
    // dimension-path as-of: the probes against a 100k-key reference of
    // ~10 rows per key (sorted-array lookup join, no window)
    s("asof_lookup") {
      val dimRefs = events.filter(!col("is_probe"))
        .filter(pmod(col("event_id"), lit(10)) === 0)
        .groupBy(col("user_id"), col("tsu").as("rts"))
        .agg(max(col("value")).as("ref_value"))
      AsOfJoin.asOfLookup(probes, dimRefs, Seq("user_id"), "tsu", "rts")
        .filter(col("ref_value").isNotNull).count()
    }
    s("range_join") {
      val windows = events.filter(!col("is_probe"))
        .select(col("user_id"), col("tsu").as("ws"),
          (col("tsu") + lit(3600L * 1000000L)).as("we"))
      RangeJoin.pointInInterval(
        probes.select(col("user_id"), col("event_id"), col("tsu")),
        windows, Seq("user_id"), "tsu", "ws", "we",
        binWidth = 3600L * 1000000L).count()
    }
    s("entity_pairs") {
      val people = spark.range(nEvents / 20).select(
        col("id"),
        concat(lit("person_"),
          lpad(pmod(xxhash64(col("id")), lit(100000)).cast("string"), 6, "0"),
          lit("_"), pmod(xxhash64(col("id") + 3), lit(10)).cast("string")).as("name"),
        pmod(xxhash64(col("id") + 11), lit(2600)).as("block"))
      EntityResolution.blockedFuzzyPairs(people, "id", "name", Seq("block"),
        maxDistance = 1, maxBlockSize = 10000).count()
    }
    // streaming drift monitor at fact scale: hourly event-type mix vs the
    // global reference (720 windows x 5 categories)
    s("windowed_drift") {
      val typed = events.select(
        timestamp_micros(col("tsu")).as("ts"),
        concat(lit("t"), pmod(xxhash64(col("event_id") + 23), lit(5))).as("event_type"))
      val ref = typed.groupBy(col("event_type").as("category"))
        .agg(count(lit(1)).as("ref_n"))
      graft.streaming.EventStream.windowedDrift(
        typed, col("event_type"), ref, windowLength = "1 hour").count()
    }
    events.unpersist()
    Seq.empty
  }

  /** Synthesizes `nEvents` events (deterministic hash-derived timestamps
    * over 30 days, 100k users, 5 event types; 20M is 1300x the sf0.1 events
    * table) and times the event-analytics operators: the check that the
    * champion-aggregate / shrinking-frontier / keyed-window shapes hold at
    * fact scale. */
  private def event(spark: SparkSession, nEvents: Long, s: Stages): Seq[(String, Any)] = {
    val types = array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error"))
    val events = synthesized(spark.range(nEvents).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(Users)).as("user_id"),
      timestamp_micros(pmod(xxhash64(col("id") + lit(7)), lit(SpanMicros))).as("ts"),
      // skewed type mix: ~50% view, ~30% click, ~10% purchase, rest split
      element_at(types,
        (when(pmod(xxhash64(col("id") + lit(13)), lit(10)) < 5, 0)
          .when(pmod(xxhash64(col("id") + lit(13)), lit(10)) < 8, 1)
          .when(pmod(xxhash64(col("id") + lit(13)), lit(10)) < 9, 2)
          .otherwise(pmod(xxhash64(col("id") + lit(19)), lit(2)).cast("int") + 3) + 1)
          .cast("int")).as("event_type"),
      (pmod(xxhash64(col("id") + lit(17)), lit(10000)) / lit(100.0)).as("value")))

    // hourly OHLC keyed by event_type (~3600 output groups) and per-user
    // gap stats (100k keyed windows)
    s("ohlc") {
      TimeSeries.downsampleOhlc(events, col("ts"), col("event_id"), col("value"),
        widthSeconds = 3600L, keys = Seq(col("event_type"))).count()
    }
    s("gaps")(TimeSeries.gapStats(events, col("user_id"), col("ts"), gapSeconds = 300L).count())
    s("funnel") {
      TimeSeries.funnel(events, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
        .filter(col("stages_completed") === 3).count()
    }
    s("cohort") {
      TimeSeries.cohortRetention(events, col("user_id"), col("ts"),
        widthSeconds = 86400L).count()
    }
    // GRPO advantage over 100k user groups, daily user growth (champion-min
    // debut), windowed W1 drift vs the global distribution (720 hourly
    // windows x 10 buckets), and the CDC champion merge applying a
    // 1/3-size changelog onto a 2/3 snapshot
    s("group_advantage") {
      Preference.groupAdvantage(
        events, col("user_id"), col("event_id"), floor(col("value") * 100))
        .filter(abs(col("advantage")) > 3.0).count()
    }
    s("user_growth")(TimeSeries.userGrowth(events, col("user_id"), col("ts"), "day").count())
    s("windowed_w1") {
      val ref = events.select(least(lit(9), greatest(lit(0),
        floor(col("value") * lit(10) / lit(100.0)).cast("int"))).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("ref_n"))
      graft.streaming.EventStream.windowedWassersteinDrift(
        events, col("value"), ref, lo = 0L, hi = 100L, buckets = 10, "1 hour")
        .count()
    }
    s("cdc_apply") {
      val snap = events.filter(col("event_id") % 3 === 0)
        .select(expr("event_id div 3").as("k"), col("value"), col("event_type"))
      val ch = events.filter(col("event_id") % 3 =!= 0)
        .select(expr("event_id div 3").as("k"), col("event_id").as("ver"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value"), col("event_type"))
      Incremental.applyChangelog(
        snap, ch, col("k"), col("ver"), col("op"), Seq("value", "event_type"))
        .count()
    }
    // per-hour exact top-3 heavy hitters (720 windows over the full soup —
    // the rank cut never leaves its window) and the Benford audit on
    // integer cents (one 9-row count + broadcast grid; its count is the
    // audit's tv_n9)
    s("windowed_topk") {
      graft.streaming.EventStream.windowedTopK(
        events, col("event_type"), "1 hour", k = 3).count()
    }
    s("benford") {
      DataQuality.benfordAudit(events, floor(col("value") * lit(100)).cast("long"))
        .select(col("tv_n9")).head().getLong(0)
    }
    // per-USER hourly EWMA: 100k keys x 720 buckets — linear per-key
    // mapPartitions scan over key-sorted runs (was a quadratic array
    // fold: 53.3 -> 24.3 s)
    s("ewma") {
      TimeSeries.ewmaBaseline(events, col("user_id"), col("ts"), col("value"),
        widthSeconds = 3600L, alphaPct = 30).count()
    }
    // exact trailing 24 h actives: the fan-out rides the DISTINCT
    // (user, hour) pre-aggregate (17.5M pairs x 24), never raw events
    s("rolling_active") {
      TimeSeries.rollingActiveUsers(events, col("user_id"), col("ts"),
        widthSeconds = 3600L, windowBuckets = 24).count()
    }
    events.unpersist()
    Seq.empty
  }

  /** Synthesizes `nDocs` documents (deterministic token soup with a
    * planted near-duplicate fraction; 500k is 100x the testdata) and times
    * the end-to-end corpus build (quality -> langid -> exact dedup ->
    * MinHash LSH -> connected components -> survivors) plus the standalone
    * dedup/curation stages: the check that the shuffle shapes hold when the
    * documents table stops being toy-sized. */
  private def corpus(spark: SparkSession, nDocs: Long, s: Stages): Seq[(String, Any)] = {
    // ~60-token docs from a 1k-word vocabulary; every 10th document is a
    // near-duplicate of its predecessor (one token changed) and every 50th
    // an exact duplicate.
    val vocabSize = 1000
    val docLen = 60
    def words(id: Column, from: Int) = transform(sequence(lit(from), lit(docLen - 1)), i =>
      concat(lit("w"), pmod(xxhash64(id * lit(docLen) + i), lit(vocabSize))))
    val prev = col("id") - 1
    val docs = synthesized(spark.range(nDocs).select(col("id"),
      when(col("id") % 50 === 0 && col("id") > 0, concat_ws(" ", words(prev, 0)))
        .when(col("id") % 10 === 0 && col("id") > 0,
          concat_ws(" ", concat(lit("mut"), col("id")), concat_ws(" ", words(prev, 1))))
        .otherwise(concat_ws(" ", words(col("id"), 0))).as("text")))

    def lshPairs() = {
      val shingles = docs.select(col("id"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("shingle"))
      Dedup.minHashLshPairs(
        Dedup.minHashSignature(shingles, col("id"), col("shingle"), 16), 4, 4, 0.5)
    }
    def bigramLm() = LanguageModel.trainBigramLm(
      docs, col("text"), vocabSize = 2000, maxBigrams = 100000)
    def total(df: DataFrame, c: String): Long = df.agg(sum(col(c))).collect()(0).getLong(0)
    val srcDocs = docs.withColumn("src", concat(lit("s"), col("id") % 16))

    s("exact")(Dedup.exact(docs, col("id"), md5(col("text"))).count())
    s("minhash_lsh")(lshPairs().count())
    s("build_corpus") {
      val r = CorpusPipeline.buildCorpus(docs,
        CorpusPipeline.CorpusConfig(minQuality = 0.3, nearDupThreshold = 0.5))
      val c = r.corpus.count(); r.unpersist(); c
    }
    s("pack") {
      Curation.packSequences(docs, col("id"),
        TextFunctions.tokenCountEstimate(col("text")).cast("long"), 2048).count()
    }
    // shuffle-free chunk explode; range-sort epoch order
    s("chunk") {
      Curation.chunkDocuments(docs, col("id"), col("text"), chunkSize = 32, overlap = 8).count()
    }
    s("epoch_shuffle")(Curation.epochShuffle(docs.select(col("id")), col("id"), epoch = 1).count())
    // linear substring-dedup spans + removal (the planted near/exact
    // duplicates make every 10th doc share long 5-gram runs), md5 baseline
    // vs the xxhash64 default as an explicit A/B pair; BM25 retrieval
    // against three mid-vocabulary terms
    s("dup_spans") {
      Dedup.duplicateSpans(docs, col("id"), col("text"), k = 5, portableHash = true).count()
    }
    s("dup_spans_xx") {
      Dedup.duplicateSpans(docs, col("id"), col("text"), k = 5, portableHash = false).count()
    }
    s("remove_spans")(Curation.removeDuplicateSpans(docs, col("id"), col("text"), k = 5).count())
    s("bm25") {
      Search.bm25TopK(docs, col("id"), col("text"), Seq("w17", "w421", "w900"), k = 100).count()
    }
    // BPE: distributed word-frequency train (vocabulary is 1k words +
    // per-doc mutation markers) then full-corpus encode; counts tokens
    s("bpe") {
      val merges = Bpe.train(docs, col("text"), nMerges = 200, maxWords = 50000)
      total(Bpe.encode(docs, col("id"), col("text"), merges), "n_tokens")
    }
    // bigram-LM perplexity scoring (train a capped model on the corpus,
    // score every doc — the CCNet-style quality pass) and per-source CMS
    // frequency sketching (one grouped native aggregate over the full
    // token stream)
    s("lm_score") {
      total(LanguageModel.scoreBigramLm(docs, col("id"), col("text"), bigramLm()), "n_tokens")
    }
    s("cms") {
      total(Sketches.cmsSketchByGroup(
        docs.select((col("id") % 16).as("src"), explode(Search.terms(col("text"))).as("term")),
        Seq(col("src")), col("term"), depth = 4, width = 1024), "total")
    }
    // sampling/staging/drift operators over the same corpus (16 synthetic
    // sources; length(text) as token proxy)
    s("temperature") {
      Curation.temperatureMixtureSample(srcDocs, col("src"), col("id"), length(col("text")),
        alpha = 0.5, tokenBudget = nDocs * 100).count()
    }
    s("pps") {
      Curation.ppsSample(docs, col("id"), length(col("text")), target = nDocs / 10).count()
    }
    s("curriculum") {
      Curation.curriculumStages(docs, length(col("text")), nStages = 4)
        .groupBy(col("stage")).count().count()
    }
    s("vocab_drift") {
      LanguageModel.vocabularyDrift(
        docs.filter(col("id") % 2 === 0), docs.filter(col("id") % 2 === 1),
        col("text"), vocabSize = 2000)
        .select(col("js_n9")).limit(1).collect()(0).getLong(0)
    }
    // overlap matrix: the heaviest op — a distinct over ~n*58 (group,
    // shingle) rows then a shingle-keyed pair join (5 groups)
    s("overlap") {
      Dedup.groupShingleOverlap(docs.withColumn("src", concat(lit("s"), col("id") % 5)),
        col("src"), col("text"), shingleN = 3).count()
    }
    // calibrated ensemble (LM + heuristics + CDF joins), the epoch-ordered
    // shard plan, the boilerplate token scrub (1k-word vocabulary: ~6% df
    // per word, so frac 0.03 actually scrubs), and the cross-half
    // incremental near-dup against a signature store
    s("ensemble") {
      QualityModel.ensembleQuality(docs, col("id"), col("text"), bigramLm())
        .filter(col("ensemble").isNotNull).count()
    }
    s("training_shards") {
      Curation.trainingShardPlan(docs, col("id"), col("text"),
        TextFunctions.tokenCountEstimate(col("text")).cast("long"),
        epoch = 1, tokenBudget = 2048, numShards = 64)
        .select(col("shard"), col("pack")).distinct().count()
    }
    s("boilerplate_scrub") {
      total(Curation.removeBoilerplateLines(docs, col("id"), col("text"),
        minDocFrac = 0.03, sep = " "), "n_removed")
    }
    s("incremental_neardup") {
      def sigs(d: DataFrame) = Dedup.minHashSignature(
        d.select(col("id"), explode(TextFunctions.wordShingles(col("text"), 3)).as("shingle")),
        col("id"), col("shingle"), 16)
      Dedup.incrementalNearDup(
        sigs(docs.filter(col("id") >= nDocs / 2)), sigs(docs.filter(col("id") < nDocs / 2)),
        numBands = 4, rowsPerBand = 4, threshold = 0.5)
        .filter(col("near_dup")).count()
    }
    s("ppl_buckets") {
      LanguageModel.perplexityBuckets(docs, col("id"), col("text"), bigramLm())
        .filter(col("ppl_bucket") === "head").count()
    }
    // cross-corpus novelty (inverted-index df), asymmetric containment
    // pairs, triangle counts over the LSH pair graph (the planted near-dup
    // chains make real wedges), Gopher rules (zero-shuffle projection) and
    // corpus-scope distinct-2 diversity
    s("novelty")(total(Search.ngramNovelty(docs, col("id"), col("text"), n = 3), "n_novel"))
    s("containment") {
      Dedup.containmentPairs(docs, col("id"), col("text"),
        n = 3, threshold = 0.8, maxShingleDf = 50).count()
    }
    s("triangles")(total(Graph.triangleCounts(lshPairs()), "n_triangles") / 3)
    s("gopher") {
      Curation.gopherRules(docs, col("id"), col("text"), minWords = 5).filter(col("pass")).count()
    }
    s("diversity") {
      total(Search.distinctNgrams(docs.withColumn("src", concat(lit("s"), col("id") % 5)),
        col("src"), col("text"), n = 2), "n_distinct")
    }
    // CC component-size histogram and the PageRank-canonical member over
    // the LSH pair graph (CC + 3 integer PR iterations)
    s("components") {
      Dedup.connectedComponents(lshPairs()).groupBy(col("component")).count().count()
    }
    s("canonical_rank") {
      Graph.canonicalByRank(lshPairs(), iters = 3).filter(col("is_canonical")).count()
    }
    // EXACT Jaccard via prefix filtering (rarest-first prefixes make the
    // candidate join df~1 on random soup, so only the planted duplicate
    // chains generate candidates) and the Pareto frontier (staircase agg +
    // tiny window + broadcast membership)
    s("prefix_jaccard") {
      Dedup.prefixJaccardPairs(docs, col("id"), col("text"), n = 3, tNum = 1, tDen = 2).count()
    }
    s("pareto") {
      val toks = TextFunctions.tokens(col("text"))
      Curation.paretoFrontier(
        docs.select(col("id"), size(array_distinct(toks)).as("d"), size(toks).as("n")),
        col("id"), col("d"), col("n")).count()
    }
    // global cross-document exact-substring dedup — the planted exact/near
    // duplicates give every 10th doc a long shared run; subquadratic = the
    // gram shuffle + islands + slice join, never a pair expansion (compare
    // against n^2/2 = 1.25e11 pair checks at 500k), md5 vs xxhash64 again
    s("substring_dedup") {
      Dedup.substringDedup(docs, col("id"), col("text"), k = 5, portableHash = true).count()
    }
    s("substring_dedup_xx") {
      Dedup.substringDedup(docs, col("id"), col("text"), k = 5, portableHash = false).count()
    }
    // hard per-source quota (two-level prefix sum over 16 sources),
    // exact-N global sample (bucket-histogram threshold selection), and the
    // waterfill allocator (corpus contributes one agg; windows run over 16
    // rows)
    s("source_quota") {
      Curation.sourceQuota(srcDocs, col("src"), col("id"),
        length(col("text")), quotaTokens = nDocs * 100 / 32)
        .filter(col("admitted")).count()
    }
    s("exact_sample")(Curation.exactSample(docs.select(col("id")), col("id"), nDocs / 5).count())
    s("waterfill") {
      total(Curation.cappedMixturePlan(srcDocs, col("src"), length(col("text")),
        c => c * 2 + 1, budget = nDocs * 100 / 4), "allocation")
    }
    // RAKE keyword extraction (phrase windows + word stats + sorted folds),
    // span-corruption augmentation (zero-shuffle projection), TF-IDF cosine
    // near-dup (df-capped candidates + full-vector folds; planted chains
    // give real rare-shingle overlap), and the exactly balanced k-fold
    // (two-level bucketed rank)
    s("rake") {
      Search.rakeKeywords(docs, col("id"), col("text"),
        stopwords = Seq("w1", "w2", "w3", "w4", "w5"), topK = 30).count()
    }
    s("span_aug") {
      total(Curation.augmentSpanCorruption(docs, col("id"), col("text"),
        maskPermille = 200, blockSize = 8), "n_masked")
    }
    // the corpus-wide stats fold (postings + norms) is its own stage, then
    // the pair step runs TWICE off the pinned model (threshold 0.3 and a
    // 0.5 re-query): the re-query shows a threshold sweep never re-pays
    // the stats pass
    val tfidf = s.of("tfidf_stats") {
      val m = Dedup.tfidfStats(docs, col("id"), col("text"), shingleN = 3)
      (m, m.norms.count())
    }(_._2)._1
    s("tfidf_neardup")(Dedup.tfidfNearDupFromStats(tfidf, threshold = 0.3, maxDf = 3).count())
    s("tfidf_requery")(Dedup.tfidfNearDupFromStats(tfidf, threshold = 0.5, maxDf = 3).count())
    s("kfold") {
      Curation.kFoldSplit(srcDocs, col("src"), col("id"), k = 10)
        .groupBy(col("fold")).count().count()
    }
    docs.unpersist()
    Seq.empty
  }

  // ANN tuning, set by the round-4 sweep: 64 cells / 4 probes beat 128 / 4
  // (doubling the cell table doubled assignment cost for no re-rank win);
  // 2 Lloyd iterations on a 50k sample pin the same planted-neighbor
  // recall as 3 iterations on 100k at about half the training cost.
  private val IvfCells = 64
  private val IvfProbe = 4
  private val IvfIters = 2
  private val IvfTrain = 50000L
  private val LshBits = 12
  // NSW graph degree and search beam (round 12). Graph search pays
  // ~efSearch*degree evals per probed shard (vs IVF's whole-cell scan), so
  // its recall/cost sweet spot probes twice as wide.
  private val HnswM = 8
  private val HnswEf = 48
  private val HnswProbe = IvfProbe * 2

  /** Synthesizes `nVecs` deterministic 64-dim vectors (hash-derived, no
    * RNG) and times the ANN paths (LSH-bucketed top-k, IVF, PQ, IVF-PQ and
    * NSW graph search over the IVF cells), LSH near-dup pairing, the
    * centroid-broadcast shapes, and the exact brute-force baseline, all on
    * 100 queries: evidence that the bucketed plans (equi-joins, no
    * quadratic pair space) hold when the embeddings table stops being
    * toy-sized. Every query path runs twice and reports its faster run
    * (the first pays codegen/JIT). Brute force is the ground truth: recall
    * is each path's overlap with the exact top-10 set. */
  private def ann(spark: SparkSession, nVecs: Long, s: Stages): Seq[(String, Any)] = {
    val dim = 64
    // embeddings in [-0.5, 0.5)^64; every 20th vector is a jittered copy of
    // its predecessor (planted near-neighbors)
    def comp(id: Column, i: Int) =
      (pmod(xxhash64(id * lit(dim) + lit(i)), lit(1000000L)).cast("double") /
        lit(1000000.0)) - lit(0.5)
    val vecs = synthesized(spark.range(nVecs).select(col("id"),
      when(col("id") % 20 === 0 && col("id") > 0,
        array((0 until dim).map(i => comp(col("id") - 1, i) + lit(if (i == 0) 0.01 else 0.0)): _*))
        .otherwise(array((0 until dim).map(i => comp(col("id"), i)): _*)).as("vec")))

    val queries = vecs.filter(col("id") < 100)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def query(name: String)(f: => DataFrame): Set[(Long, Long)] =
      s.of(name, runs = 2)(pairs(f))(_.size.toLong)

    val bfSet = query("bruteforce_100q")(Similarity.bruteForceTopK(vecs, queries, 10))
    val lshSet = query("lsh_topk_100q") {
      Similarity.lshTopK(vecs, queries, k = 10, nBits = LshBits, dim = dim,
        probeHammingRadius = 1)
    }
    // Int8-quantized scoring over the same exhaustive candidate space: the
    // recall number is the point (how much the 8x-narrower candidate
    // representation loses — compute cost matches brute force locally,
    // the byte-width win shows up in scan/shuffle-bound cluster runs).
    val quantSet = query("quantized_100q")(
      Similarity.quantizedTopK(vecs, queries, k = 10, oversample = 4))
    // IVF the way it is used: build the inverted file ONCE (training +
    // assignment + cache), then serve query batches from it. The
    // steady-state batch time is the brute-force comparison; the one-shot
    // ivfTopK path equals build + first batch.
    val ivfIdx = s.of("ivf_build") {
      val idx = Similarity.buildIvfIndex(vecs, nCells = IvfCells,
        kmeansIters = IvfIters, maxTrainRows = IvfTrain)
      (idx, sink(idx.assigned))
    }(_._2)._1
    val ivfSet = query("ivf_query_100q")(
      Similarity.ivfQuery(ivfIdx, queries, k = 10, nProbe = IvfProbe))
    // Product quantization over the same exhaustive candidate space: the
    // headline is recall at an nSub-lookup scoring cost over an nSub-byte
    // corpus representation (vs dim floats); trained once (its count is
    // the codes trained). 8 x 64 codes / oversample 16: near-uniform
    // synthetic vectors have tightly clustered pair distances, so PQ needs
    // a finer codebook and a wider exact re-rank than real clustered
    // embeddings would.
    val pqModel = s.of("pq_train") {
      Similarity.trainPq(vecs, dim = dim, nSub = 8, nCodes = 64,
        kmeansIters = IvfIters, maxTrainRows = IvfTrain)
    }(_.codebooks.map(_.size.toLong).sum)
    val pqSet = query("pq_topk_100q")(
      Similarity.pqTopK(vecs, queries, k = 10, pqModel, oversample = 16))
    // IVF-PQ: same probe as ivfQuery, PQ-coded scoring inside the probed
    // cells only — the production composition
    val ivfPqSet = query("ivfpq_100q") {
      Similarity.ivfPqTopK(ivfIdx, pqModel, vecs, queries, k = 10,
        nProbe = IvfProbe, oversample = 16)
    }
    // Graph ANN: NSW graphs over the SAME IVF cell geometry. Build is one
    // groupByKey + per-shard in-memory construction (the train-once cost);
    // the steady-state query batch is the brute-force comparison.
    val nswIdx = s.of("hnsw_build") {
      val idx = Hnsw.buildNswIndex(vecs, ivfIdx.centroids, m = HnswM, efConstruction = HnswM * 4)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (idx, sink(idx))
    }(_._2)._1
    val nswSet = query("hnsw_query_100q") {
      Hnsw.nswTopK(nswIdx, ivfIdx.centroids, queries, k = 10, nProbe = HnswProbe,
        efSearch = HnswEf)
    }
    // Incremental index maintenance. A LOCALIZED 10k batch — jittered
    // copies of one existing region, the "tonight's crawl is topically
    // clustered" shape — lands in a handful of cells, so insertIntoIndex
    // rebuilds only those shards while the others pass through by
    // reference. The honest comparison is hnsw_build (the full rebuild
    // this replaces); the count is the affected cells, so the ratio reads
    // as mechanism, not luck.
    s("hnsw_insert_10k") {
      val newVecs = spark.range(nVecs, nVecs + 10000).select(col("id"),
        array((0 until dim).map(i =>
          comp(lit(7L), i) +
            (pmod(xxhash64(col("id") * lit(dim) + lit(i)), lit(1000L)).cast("double") /
              lit(100000.0))): _*).as("vec"))
      val merged = Hnsw.insertIntoIndex(nswIdx, ivfIdx.centroids,
        newVecs, m = HnswM, efConstruction = HnswM * 4)
        .persist(StorageLevel.MEMORY_AND_DISK)
      merged.write.format("noop").mode("overwrite").save()
      // affected cells = distinct cells of the NEW nodes (reads the pin)
      val c = merged.toDF().filter(col("id") >= nVecs).select(col("cell")).distinct().count()
      merged.unpersist()
      c
    }
    s("neardup_pairs") {
      Similarity.embeddingNearDupPairs(vecs, threshold = 0.99, nBits = 14, dim = dim).count()
    }
    // per-label centroid-distance outliers (label = a 16-way hash facet)
    // and per-dim min-max scaling — both centroid/stats-broadcast shapes
    s("label_outliers") {
      Similarity.labelOutliers(
        vecs.withColumn("label", pmod(xxhash64(col("id")), lit(16)).cast("int")),
        col("id"), col("label"), col("vec"), k = 10).count()
    }
    s("minmax_scale") {
      Similarity.minMaxScale(vecs, col("id"), col("vec")).filter(col("scaled") > 0.999).count()
    }
    nswIdx.unpersist()
    ivfIdx.release()
    vecs.unpersist() // the synthetic corpus is done — free it before the SF phase

    def recall(found: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
      (found & truth).size.toDouble / math.max(truth.size, 1)
    // Planted-neighbor check: id%20==0 is a jittered copy of id-1, so the
    // exact top-1 of query q is q-1 — verify the approximate paths keep it.
    val planted = bfSet.filter { case (q, nb) => q % 20 == 0 && q > 0 && nb == q - 1 }
    Seq(
      "ivf_cells" -> IvfCells, "ivf_probe" -> IvfProbe, "ivf_iters" -> IvfIters,
      "ivf_train" -> IvfTrain, "lsh_bits" -> LshBits,
      "hnsw_m" -> HnswM, "hnsw_ef" -> HnswEf, "hnsw_probe" -> HnswProbe,
      "lsh_recall" -> recall(lshSet, bfSet), "ivf_recall" -> recall(ivfSet, bfSet),
      "hnsw_recall" -> recall(nswSet, bfSet), "quant_recall" -> recall(quantSet, bfSet),
      "pq_recall" -> recall(pqSet, bfSet), "ivfpq_recall" -> recall(ivfPqSet, bfSet),
      "ivf_planted_recall" -> recall(ivfSet, planted),
      "hnsw_planted_recall" -> recall(nswSet, planted),
      "lsh_planted_recall" -> recall(lshSet, planted),
      "quant_planted_recall" -> recall(quantSet, planted),
      "pq_planted_recall" -> recall(pqSet, planted),
      "ivf_speedup_vs_bf" -> s.sec("bruteforce_100q") / math.max(s.sec("ivf_query_100q"), 1e-9),
      "hnsw_speedup_vs_bf" -> s.sec("bruteforce_100q") / math.max(s.sec("hnsw_query_100q"), 1e-9))
  }

  /** Recall@k table on the REAL SF embeddings table (not the synthetic
    * corpus): every approximate path scored against the exact brute-force
    * top-k over the same vectors. Cell/probe counts are scaled to the
    * table (sqrt-ish cells), not the 1M synthetic tuning. */
  private def annRecallSf(spark: SparkSession, sfDir: String): String = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = e.count()
    // derive the dim from the table, not the synthetic corpus constant — a
    // regeneration could change the embedding length (the round-6
    // events-loader lesson applies here too)
    val sfDim = e.select(size(col("vec"))).first().getInt(0)
    val q = e.filter(col("id") < 100)
    val ks = Seq(1, 5, 10)
    def sets(df: DataFrame): Map[Int, Set[(Long, Long)]] = {
      val rows = df.select(col("query_id"), col("neighbor_id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("rank").intValue))
      ks.map(k => k -> rows.collect { case (a, b, rk) if rk <= k => (a, b) }.toSet).toMap
    }
    val bf = sets(Similarity.bruteForceTopK(e, q, 10))
    val sfCells = math.max(4, math.sqrt(nE.toDouble).toInt / 3)
    val sfProbe = 4
    val idx = Similarity.buildIvfIndex(e, nCells = sfCells, kmeansIters = 2,
      maxTrainRows = nE)
    val ivf = sets(Similarity.ivfQuery(idx, q, k = 10, nProbe = sfProbe))
    // the recall/cost knob: doubling probed cells ~doubles the scanned
    // fraction — report both points so the tradeoff is visible
    val ivfWide = sets(Similarity.ivfQuery(idx, q, k = 10, nProbe = sfProbe * 2))
    val lsh = sets(Similarity.lshTopK(e, q, k = 10, nBits = 8, dim = sfDim,
      probeHammingRadius = 1))
    val qnt = sets(Similarity.quantizedTopK(e, q, k = 10, oversample = 4))
    // largest nSub <= 8 dividing the table's dim (same regen-proofing as
    // sfDim itself; 8 for the current 64-dim table)
    val pqSub = (8 to 1 by -1).find(sfDim % _ == 0).get
    val pqM = Similarity.trainPq(e, dim = sfDim, nSub = pqSub,
      nCodes = math.min(64, nE.toInt), kmeansIters = 2, maxTrainRows = nE)
    val pq = sets(Similarity.pqTopK(e, q, k = 10, pqM, oversample = 8))
    val ivfpq = sets(Similarity.ivfPqTopK(idx, pqM, e, q, k = 10,
      nProbe = sfProbe, oversample = 8))
    val nsw = sets(Hnsw.nswTopK(
      Hnsw.buildNswIndex(e, idx.centroids, m = 8, efConstruction = 32),
      idx.centroids, q, k = 10, nProbe = sfProbe * 2, efSearch = 48))
    def rec(m: Map[Int, Set[(Long, Long)]], k: Int): Double =
      (m(k) & bf(k)).size.toDouble / math.max(bf(k).size, 1)
    def d3(v: Double) = Stage.d3(v)
    val tbl = ks.map { k =>
      s""""$k":{"ivf":${d3(rec(ivf, k))},"ivf_wide":${d3(rec(ivfWide, k))},"hnsw":${d3(rec(nsw, k))},"lsh":${d3(rec(lsh, k))},"quant":${d3(rec(qnt, k))},"pq":${d3(rec(pq, k))},"ivfpq":${d3(rec(ivfpq, k))}}"""
    }.mkString("{", ",", "}")
    idx.release()
    e.unpersist()
    s"""{"metric":"ann_recall_sf","sf":"$sfDir","n_vecs":$nE,"ivf_cells":$sfCells,"ivf_probe":$sfProbe,"recall_at_k":$tbl}"""
  }
}

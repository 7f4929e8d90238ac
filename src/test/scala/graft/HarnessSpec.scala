package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every scale bench runs end to end at a tiny size and reports each of its
  * stages. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val stageRecord =
    """"([a-z0-9_]+)":\{"count":(\d+),"sec":(\d+\.\d{3}),"cpu_sec":\d+\.\d{3},"gc_sec":\d+\.\d{3},"runs":(\d)""".r

  private val ann = Seq("bruteforce_100q", "lsh_topk_100q", "quantized_100q", "ivf_build",
    "ivf_query_100q", "pq_train", "pq_topk_100q", "ivfpq_100q", "hnsw_build", "hnsw_query_100q",
    "hnsw_insert_10k", "neardup_pairs", "label_outliers", "minmax_scale")
  private val annTwice = Set("bruteforce_100q", "lsh_topk_100q", "quantized_100q",
    "ivf_query_100q", "pq_topk_100q", "ivfpq_100q", "hnsw_query_100q")

  /** bench -> (tiny size, its stages, figures its line must carry). */
  private val benches = Seq(
    "assay" -> (2000L, Seq("build_precount", "archive_spectra", "psm_summaries",
      "protein_evidence", "validity"), Seq(""""rescue_mode":false,"rescued_rows":-1,""")),
    "assay-rescue" -> (1000L, Seq("build_precount", "archive_spectra", "psm_summaries",
      "protein_evidence", "validity"), Seq(""""rescue_mode":true,""")),
    "cluster" -> (1000L, Seq("edges", "cluster"), Seq(""""top_sizes":"size=5x""")),
    "temporal" -> (20000L, Seq("asof", "asof_nearest", "asof_lookup", "range_join",
      "entity_pairs", "windowed_drift"), Nil),
    "event" -> (20000L, Seq("ohlc", "gaps", "funnel", "cohort", "group_advantage",
      "user_growth", "windowed_w1", "cdc_apply", "windowed_topk", "benford", "ewma",
      "rolling_active"), Nil),
    "corpus" -> (500L, Seq("exact", "minhash_lsh", "build_corpus", "pack", "chunk",
      "epoch_shuffle", "dup_spans", "dup_spans_xx", "remove_spans", "bm25", "bpe",
      "lm_score", "cms", "temperature", "pps", "curriculum", "vocab_drift", "overlap",
      "ensemble", "training_shards", "boilerplate_scrub", "incremental_neardup",
      "ppl_buckets", "novelty", "containment", "triangles", "gopher", "diversity",
      "components", "canonical_rank", "prefix_jaccard", "pareto", "substring_dedup",
      "substring_dedup_xx", "source_quota", "exact_sample", "waterfill", "rake",
      "span_aug", "tfidf_stats", "tfidf_neardup", "tfidf_requery", "kfold"), Nil),
    "ann" -> (2000L, ann, Seq(""""ivf_planted_recall":1.000,""", """"lsh_recall":""",
      """"hnsw_recall":""", """"pq_recall":""", """"ivfpq_recall":""",
      """"quant_planted_recall":""", """"hnsw_speedup_vs_bf":""")),
  )

  benches.foreach { case (bench, (size, expected, figures)) =>
    test(s"$bench: one JSON line carries every stage with its count and seconds") {
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      Harness.run(spark, bench, size)(lines += _)
      assert(lines.size == 1, lines.mkString("\n"))
      val line = lines.head
      assert(line.startsWith(s"""{"metric":"harness","bench":"$bench","size":$size,""") &&
        line.endsWith("}}}"), line)
      val stages = stageRecord.findAllMatchIn(line)
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toDouble, m.group(4).toInt)).toMap
      assert(stages.keys.toSeq.sorted == expected.sorted, line)
      // every stage is timed (each runs at least one Spark job), and only
      // the ANN query paths run twice
      stages.foreach { case (name, (_, sec, runs)) =>
        assert(sec > 0.0 && runs == (if (annTwice(name)) 2 else 1), s"$name in $line")
      }
      figures.foreach(f => assert(line.contains(f), line))
      if (bench == "ann") assert(stages("bruteforce_100q")._1 == 1000, line) // 100 queries x 10
      if (bench == "assay-rescue") { // every written row came through the rescue
        val archived = stages("archive_spectra")._1
        assert(archived > 0 && line.contains(s""""rescued_rows":$archived,"""), line)
      }
    }
  }

  test("parse: sizes default per bench; unknown benches and extra arguments are rejected") {
    assert(Harness.parse(Array("corpus")) == ("corpus", 500000L))
    assert(Harness.parse(Array("assay-rescue", "1000")) == ("assay-rescue", 1000L))
    Seq(Array("assays"), Array("ann", "10", "20"), Array("ann", "0"), Array.empty[String])
      .foreach(a => intercept[IllegalArgumentException](Harness.parse(a)))
  }
}

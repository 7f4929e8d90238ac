package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity-search scale probe: synthesizes N deterministic 64-dim
  * vectors (hash-derived, no RNG) and times the ANN paths — LSH-bucketed
  * top-k, IVF probe-limited top-k, and LSH near-dup pairing — plus the
  * exact brute-force baseline on a small query set. The ANN counterpart
  * of [[CorpusBench]]: evidence the bucketed plans (equi-joins, no
  * quadratic pair space) hold when the embeddings table stops being
  * toy-sized.
  *
  *   SPARK_GRAFT_NVECS=1000000 sbt "runMain graft.AnnBench"
  */
object AnnBench {

  def main(args: Array[String]): Unit = {
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_NVECS", "1000000").toLong
    // IVF/LSH tuning knobs (the sweep axes): cells*probe sets the scanned
    // corpus fraction (nProbe/nCells), iters the Lloyd training cost.
    val ivfCells = sys.env.getOrElse("SPARK_GRAFT_IVF_CELLS", "64").toInt
    val ivfProbe = sys.env.getOrElse("SPARK_GRAFT_IVF_PROBE", "4").toInt
    // Tuned defaults from the round-4 sweep (64/4 beat 128/4 — doubling
    // the cell table doubled assignment cost for no re-rank win; 2 Lloyd
    // iterations on a 50k sample pin the same planted-neighbor recall as
    // 3 iterations on 100k at roughly half the training cost).
    val ivfIters = sys.env.getOrElse("SPARK_GRAFT_IVF_ITERS", "2").toInt
    val ivfTrain = sys.env.getOrElse("SPARK_GRAFT_IVF_TRAIN", "50000").toLong
    val lshBits = sys.env.getOrElse("SPARK_GRAFT_LSH_BITS", "12").toInt
    val dim = 64
    // 10M-vector runs on a big heap see full-GC pauses that outlast
    // the 10 s default heartbeat; a missed beat tears the context down
    val spark = GraftSession.harness("graft-annbench",
      "spark.executor.heartbeatInterval" -> "60s", "spark.network.timeout" -> "600s")
    spark.sparkContext.setLogLevel("WARN")

    // Deterministic embeddings in [-0.5, 0.5)^64; every 20th vector is a
    // jittered copy of its predecessor (planted near-neighbors).
    def comp(id: org.apache.spark.sql.Column, i: Int) =
      (pmod(xxhash64(id * lit(dim) + lit(i)), lit(1000000L)).cast("double") /
        lit(1000000.0)) - lit(0.5)
    val base = spark.range(nVecs)
      .select(col("id"), array((0 until dim).map(i => comp(col("id"), i)): _*).as("v0"))
    val vecs = base.select(col("id"),
      when(col("id") % 20 === 0 && col("id") > 0,
        array((0 until dim).map(i =>
          comp(col("id") - 1, i) + lit(if (i == 0) 0.01 else 0.0)): _*))
        .otherwise(col("v0")).as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = vecs.count()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val queries = vecs.filter(col("id") < 100)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Every query-path column is timed the same way: two runs, min
    // reported (the first run pays codegen/JIT — startup, not
    // throughput). One helper so a future column can't accidentally
    // revert to a single-run figure.
    def time2[A](f: => A): (A, Double) = {
      val (r, t1) = time(f); val (_, t2) = time(f); (r, math.min(t1, t2))
    }
    // Brute force IS the ground truth: recall@10 for the approximate
    // paths is their overlap with the exact top-10 set.
    val (bfSet, tBf) = time2 {
      pairs(Similarity.bruteForceTopK(vecs, queries, 10))
    }
    System.err.println(f"[annbench] bruteforce $tBf%.1f s")  // progress: partial evidence survives a cut-short run
    val (lshSet, tLsh) = time2 {
      pairs(Similarity.lshTopK(vecs, queries, k = 10, nBits = lshBits, dim = dim,
        probeHammingRadius = 1))
    }
    System.err.println(f"[annbench] lsh_topk $tLsh%.1f s")  // progress: partial evidence survives a cut-short run
    // Int8-quantized scoring over the same exhaustive candidate space:
    // the recall number is the point (how much the 8x-narrower candidate
    // representation loses — compute cost matches brute force locally,
    // the byte-width win shows up in scan/shuffle-bound cluster runs).
    val (quantSet, tQuant) = time2 {
      pairs(Similarity.quantizedTopK(vecs, queries, k = 10, oversample = 4))
    }
    System.err.println(f"[annbench] quantized $tQuant%.1f s")  // progress: partial evidence survives a cut-short run
    // IVF the way it is used: build the inverted file ONCE (training +
    // assignment + cache — reported separately), then serve query batches
    // from it. The steady-state batch time is the brute-force comparison;
    // the one-shot ivfTopK path equals build + first batch.
    val (ivfIdx, tIvfBuild) = time {
      val idx = Similarity.buildIvfIndex(vecs, nCells = ivfCells,
        kmeansIters = ivfIters, maxTrainRows = ivfTrain)
      idx.assigned.write.format("noop").mode("overwrite").save() // materialize
      idx
    }
    val (ivfSet, tIvfQ1) = time {
      pairs(Similarity.ivfQuery(ivfIdx, queries, k = 10, nProbe = ivfProbe))
    }
    val (_, tIvfQ2) = time {
      pairs(Similarity.ivfQuery(ivfIdx, queries, k = 10, nProbe = ivfProbe))
    }
    val tIvf = math.min(tIvfQ1, tIvfQ2)
    // Product quantization over the same exhaustive candidate space: the
    // headline is recall at an nSub-lookup scoring cost over an nSub-byte
    // corpus representation (vs dim floats); train once, report separately.
    // 8 x 64 codes / oversample 16: near-uniform synthetic vectors have
    // tightly clustered pair distances, so PQ needs a finer codebook and
    // a wider exact re-rank than real clustered embeddings would.
    val (pqModel, tPqTrain) = time {
      Similarity.trainPq(vecs, dim = dim, nSub = 8, nCodes = 64,
        kmeansIters = ivfIters, maxTrainRows = ivfTrain)
    }
    System.err.println(f"[annbench] pq_train $tPqTrain%.1f s")  // progress: partial evidence survives a cut-short run
    val (pqSet, tPq) = time2 {
      pairs(Similarity.pqTopK(vecs, queries, k = 10, pqModel, oversample = 16))
    }
    // IVF-PQ: same probe as ivfQuery, PQ-coded scoring inside the probed
    // cells only — the production composition
    val (ivfPqSet, tIvfPq) = time2 {
      pairs(Similarity.ivfPqTopK(ivfIdx, pqModel, vecs, queries, k = 10,
        nProbe = ivfProbe, oversample = 16))
    }
    // Graph ANN (round-12): NSW graphs over the SAME IVF cell geometry —
    // the index the recall/latency frontier is usually won with. Build is
    // one groupByKey + per-shard in-memory construction (reported
    // separately, the train-once cost); the steady-state query batch is
    // the brute-force comparison, same discipline as IVF above.
    val hnswM = sys.env.getOrElse("SPARK_GRAFT_HNSW_M", "8").toInt
    val hnswEf = sys.env.getOrElse("SPARK_GRAFT_HNSW_EF", "48").toInt
    // graph search pays ~efSearch*degree evals per probed shard (vs IVF's
    // whole-cell scan), so its recall/cost sweet spot probes WIDER
    val hnswProbe = sys.env.getOrElse("SPARK_GRAFT_HNSW_PROBE",
      (ivfProbe * 2).toString).toInt
    val (nswIdx, tNswBuild) = time {
      val idx = graft.operators.Hnsw.buildNswIndex(vecs, ivfIdx.centroids,
        m = hnswM, efConstruction = hnswM * 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.write.format("noop").mode("overwrite").save() // materialize
      idx
    }
    System.err.println(f"[annbench] nsw_build $tNswBuild%.1f s")  // progress: partial evidence survives a cut-short run
    val (nswSet, tNsw) = time2 {
      pairs(graft.operators.Hnsw.nswTopK(nswIdx, ivfIdx.centroids, queries,
        k = 10, nProbe = hnswProbe, efSearch = hnswEf))
    }
    System.err.println(f"[annbench] nsw_query $tNsw%.1f s")  // progress: partial evidence survives a cut-short run
    // round-13: incremental index maintenance. A LOCALIZED 10k batch —
    // jittered copies of one existing region, the "tonight's crawl is
    // topically clustered" shape — lands in a handful of cells, so
    // insertIntoIndex rebuilds only those shards while the other
    // ~ivfCells pass through by reference. The honest comparison is
    // tNswBuild (the full rebuild this replaces); the affected-cell
    // count is printed so the ratio reads as mechanism, not luck.
    val (insCells, tInsert) = time {
      val newVecs = spark.range(nVecs, nVecs + 10000).select(col("id"),
        array((0 until dim).map(i =>
          comp(lit(7L), i) +
            (pmod(xxhash64(col("id") * lit(dim) + lit(i)), lit(1000L)).cast("double") /
              lit(100000.0))): _*).as("vec"))
      val merged = graft.operators.Hnsw.insertIntoIndex(nswIdx, ivfIdx.centroids,
        newVecs, m = hnswM, efConstruction = hnswM * 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      merged.write.format("noop").mode("overwrite").save()
      // affected cells = distinct cells of the NEW nodes (reads the pin)
      val c = merged.toDF().filter(col("id") >= nVecs)
        .select(col("cell")).distinct().count()
      merged.unpersist()
      c
    }
    System.err.println(f"[annbench] nsw_insert $tInsert%.1f s")  // progress: partial evidence survives a cut-short run
    val (nPairs, tPairs) = time {
      Similarity.embeddingNearDupPairs(vecs, threshold = 0.99, nBits = 14,
        dim = dim).count()
    }
    System.err.println(f"[annbench] neardup_pairs $tPairs%.1f s")  // progress: partial evidence survives a cut-short run
    // round-9 stages: per-label centroid-distance outliers (label = a
    // 16-way hash facet) and per-dim min-max scaling — both centroid/
    // stats-broadcast shapes that must hold at 1M x 64
    val (nOut, tOutliers) = time {
      Similarity.labelOutliers(
        vecs.withColumn("label", pmod(xxhash64(col("id")), lit(16)).cast("int")),
        col("id"), col("label"), col("vec"), k = 10).count()
    }
    val (nScaled, tScale) = time {
      Similarity.minMaxScale(vecs, col("id"), col("vec"))
        .filter(col("scaled") > 0.999).count()
    }
    val lshRecall = (lshSet & bfSet).size.toDouble / math.max(bfSet.size, 1)
    val ivfRecall = (ivfSet & bfSet).size.toDouble / math.max(bfSet.size, 1)
    val nswRecall = (nswSet & bfSet).size.toDouble / math.max(bfSet.size, 1)
    val quantRecall = (quantSet & bfSet).size.toDouble / math.max(bfSet.size, 1)
    val pqRecall = (pqSet & bfSet).size.toDouble / math.max(bfSet.size, 1)
    val ivfPqRecall = (ivfPqSet & bfSet).size.toDouble / math.max(bfSet.size, 1)
    // Planted-neighbor check: id%20==0 is a jittered copy of id-1, so the
    // exact top-1 of query q is q-1 — verify the approximate paths keep it.
    val planted = bfSet.filter { case (q, nb) => q % 20 == 0 && q > 0 && nb == q - 1 }
    val ivfPlanted = (ivfSet & planted).size.toDouble / math.max(planted.size, 1)
    val nswPlanted = (nswSet & planted).size.toDouble / math.max(planted.size, 1)
    val lshPlanted = (lshSet & planted).size.toDouble / math.max(planted.size, 1)
    val quantPlanted = (quantSet & planted).size.toDouble / math.max(planted.size, 1)
    val pqPlanted = (pqSet & planted).size.toDouble / math.max(planted.size, 1)

    println(
      f"""{"metric":"ann_bench","n_vecs":$n,"bf_rows":${bfSet.size},"lsh_rows":${lshSet.size},"ivf_rows":${ivfSet.size},"neardup_pairs":$nPairs,"outlier_rows":$nOut,"scaled_hits":$nScaled,"ivf_cells":$ivfCells,"ivf_probe":$ivfProbe,"ivf_iters":$ivfIters,"ivf_train":$ivfTrain,"lsh_recall":$lshRecall%.3f,"ivf_recall":$ivfRecall%.3f,"hnsw_recall":$nswRecall%.3f,"hnsw_m":$hnswM,"hnsw_ef":$hnswEf,"hnsw_probe":$hnswProbe,"hnsw_planted_recall":$nswPlanted%.3f,"hnsw_speedup_vs_bf":${tBf / math.max(tNsw, 1e-9)}%.1f,"quant_recall":$quantRecall%.3f,"pq_recall":$pqRecall%.3f,"ivfpq_recall":$ivfPqRecall%.3f,"ivf_planted_recall":$ivfPlanted%.3f,"lsh_planted_recall":$lshPlanted%.3f,"quant_planted_recall":$quantPlanted%.3f,"pq_planted_recall":$pqPlanted%.3f,"ivf_speedup_vs_bf":${tBf / math.max(tIvf, 1e-9)}%.1f,"sec":{"bruteforce_100q":$tBf%.1f,"lsh_topk_100q":$tLsh%.1f,"quantized_100q":$tQuant%.1f,"pq_train":$tPqTrain%.1f,"pq_topk_100q":$tPq%.1f,"ivfpq_100q":$tIvfPq%.1f,"ivf_build":$tIvfBuild%.1f,"ivf_query_100q":$tIvf%.1f,"hnsw_build":$tNswBuild%.1f,"hnsw_query_100q":$tNsw%.1f,"hnsw_insert_10k":$tInsert%.1f,"hnsw_insert_cells":$insCells,"ivf_query_first":$tIvfQ1%.1f,"neardup_pairs":$tPairs%.1f,"label_outliers":$tOutliers%.1f,"minmax_scale":$tScale%.1f}}""")
    nswIdx.unpersist()
    ivfIdx.release()
    vecs.unpersist() // the synthetic corpus is done — free it before the SF phase

    // Recall@k table on the REAL SF embeddings table (not the synthetic
    // corpus above): every approximate path scored against the exact
    // brute-force top-k over the same vectors. Cell/probe counts are
    // scaled to the table (sqrt-ish cells), not the 1M synthetic tuning.
    sys.env.get("SPARK_GRAFT_SF_DIR").foreach { sfDir =>
      val e = Tables(spark, sfDir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nE = e.count()
      // derive the dim from the table, not the synthetic corpus constant —
      // a regeneration could change the embedding length (the round-6
      // events-loader lesson applies here too)
      val sfDim = e.select(size(col("vec"))).first().getInt(0)
      val q = e.filter(col("id") < 100)
      val ks = Seq(1, 5, 10)
      def sets(df: org.apache.spark.sql.DataFrame): Map[Int, Set[(Long, Long)]] = {
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
      // largest nSub <= 8 dividing the table's dim (same regen-proofing
      // as sfDim itself; 8 for the current 64-dim table)
      val pqSub = (8 to 1 by -1).find(sfDim % _ == 0).get
      val pqM = Similarity.trainPq(e, dim = sfDim, nSub = pqSub,
        nCodes = math.min(64, nE.toInt), kmeansIters = 2, maxTrainRows = nE)
      val pq = sets(Similarity.pqTopK(e, q, k = 10, pqM, oversample = 8))
      val ivfpq = sets(Similarity.ivfPqTopK(idx, pqM, e, q, k = 10,
        nProbe = sfProbe, oversample = 8))
      val nsw = sets(graft.operators.Hnsw.nswTopK(
        graft.operators.Hnsw.buildNswIndex(e, idx.centroids, m = 8, efConstruction = 32),
        idx.centroids, q, k = 10, nProbe = sfProbe * 2, efSearch = 48))
      def rec(m: Map[Int, Set[(Long, Long)]], k: Int): Double =
        (m(k) & bf(k)).size.toDouble / math.max(bf(k).size, 1)
      val tbl = ks.map { k =>
        f""""$k":{"ivf":${rec(ivf, k)}%.3f,"ivf_wide":${rec(ivfWide, k)}%.3f,"hnsw":${rec(nsw, k)}%.3f,"lsh":${rec(lsh, k)}%.3f,"quant":${rec(qnt, k)}%.3f,"pq":${rec(pq, k)}%.3f,"ivfpq":${rec(ivfpq, k)}%.3f}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"ann_recall_sf","sf":"$sfDir","n_vecs":$nE,"ivf_cells":$sfCells,"ivf_probe":$sfProbe,"recall_at_k":$tbl}""")
      idx.release()
      e.unpersist()
    }
    spark.stop()
  }
}

package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k, a broadcast-join + window.
  *    Correctness baseline; O(|queries| * |corpus|).
  *  - [[lshTopK]] — random-hyperplane LSH bucketing (the 100 TB path):
  *    candidates come from an equi-join on bucket ids (optionally
  *    multi-probe over neighboring buckets), then exact re-ranking of the
  *    tiny candidate set. The quadratic term never materializes.
  *
  * Plan hygiene: norms are computed ONCE per row before any pair join (the
  * pair-level expression is a single dot product), and LSH planes are
  * literal arrays folded at plan-build time — no per-row hashing.
  */
object Similarity {

  // cosine from a pair dot and per-side precomputed norms; identical value
  // to VectorFunctions.cosine (same operand order).
  // NULL inputs (null vector / null element / length mismatch) propagate
  // as NULL — a missing-branch `when` yields NULL when na*nb is NULL —
  // instead of masquerading as a real 0.0-similarity neighbor; only a
  // genuine zero-norm vector folds to 0.0. A non-finite result (NaN/Inf
  // element anywhere in either vector) ALSO folds to NULL: Spark's
  // nan-safe sort ranks NaN above every real value, so one NaN vector
  // would otherwise become the rank-1 neighbor of every query and pass
  // every >= threshold gate.
  private def cosineFromParts(dotC: Column, na: Column, nb: Column): Column = {
    val c = when(na * nb > 0.0, dotC / (na * nb)).otherwise(when((na * nb).isNotNull, lit(0.0)))
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity,
      lit(null).cast("double")).otherwise(c)
  }

  /** Exact cosine top-k neighbors for each query row.
    *
    * @param corpus  (id, vec) DataFrame
    * @param queries (id, vec) DataFrame — broadcast when small
    * @param k       neighbors per query (self-matches excluded)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    crossScoredTopK(corpus, queries, k,
      extraQueryCols = Nil, extraCorpusCols = Nil,
      pairPredicate = lit(true), extraOutCols = Nil)

  /** Shared exact cross-score pipeline: broadcast queries × corpus,
    * self-pairs excluded, `pairPredicate` applied BEFORE scoring, NULL
    * cosines (invalid pairs) never consume a rank slot, deterministic
    * (cosine desc, neighbor_id) ranking cut at k. Both public baselines
    * ([[bruteForceTopK]], [[hardNegativeTopK]]) are thin wrappers, so a
    * ranking/NULL-handling fix lands in exactly one place.
    *
    * Duplicate-id caveat (ADVICE r14): the two branches agree only when
    * corpus ids are unique. The topk_ids aggregate path has SET semantics
    * — identical (cosine, neighbor_id) entries collapse — while the
    * window path gives each duplicate row its own row_number slot; every
    * engine caller feeds unique-id corpora (vec_id is a key), and callers
    * with duplicate ids must dedupe the corpus first. */
  private def crossScoredTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      extraQueryCols: Seq[(String, String)],
      extraCorpusCols: Seq[(String, String)],
      pairPredicate: Column,
      extraOutCols: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val qCols = Seq(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn")) ++ extraQueryCols.map { case (in, out) => col(in).as(out) }
    val cCols = Seq(col("id").as("neighbor_id"), col("vec").as("cvec"),
      norm(col("vec")).as("cn")) ++ extraCorpusCols.map { case (in, out) => col(in).as(out) }
    val q = broadcast(queries.select(qCols: _*))
    val c = corpus.select(cCols: _*)
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(pairPredicate)
      .withColumn("cosine",
        cosineFromParts(dot(col("qvec"), col("cvec")), col("qn"), col("cn")))
      // a NULL cosine (invalid pair) must not consume a top-k rank slot
      .filter(col("cosine").isNotNull)
    if (extraOutCols.isEmpty) {
      // Rank cut as a bounded TOP-K AGGREGATE, not a window: the window
      // form shuffles and sorts EVERY scored pair (|queries| x |corpus|
      // rows) to keep k of them; topk_ids does map-side partial top-k, so
      // only k pairs per (partition, query) cross the exchange — the
      // w3_topk_agg pattern applied to the cross-score baselines (r14:
      // sim_reciprocal_nn's 4M-row window sort was its whole cost).
      // Ordering contract identical: (cosine desc, neighbor_id asc),
      // NULL cosines already filtered, rank = 1-based emit position.
      val tk = graft.functions.TopKByAgg.topKIds(
        corpus.sparkSession, col("cosine"), col("neighbor_id"), k)
      scored
        .groupBy(col("query_id"))
        .agg(tk.as("_tk"))
        .select(col("query_id"), posexplode(col("_tk")).as(Seq("_pos", "_e")))
        .select(col("query_id"), col("_e.id").as("neighbor_id"),
          col("_e.ord").as("cosine"), (col("_pos") + 1).cast("int").as("rank"))
    } else {
      val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
      val out = Seq(col("query_id"), col("neighbor_id")) ++ extraOutCols.map(col) ++
        Seq(col("cosine"), col("rank"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(out: _*)
    }
  }

  /** Hard-negative mining for contrastive training: exact cosine top-k
    * over the corpus RESTRICTED to rows PROVABLY of a different class —
    * both labels known and unequal (an unlabeled row could be a
    * positive, so it never qualifies as a negative, and an unlabeled
    * query mines nothing). The "most similar yet wrong-class" examples
    * are the informative negatives; same (id, vec) contract as
    * [[bruteForceTopK]] plus a `label` column on both sides.
    *
    * This is the exact baseline (the label predicate rides the same
    * broadcast cross-score); the scale path composes the same predicate
    * into the IVF probe's re-rank stage. */
  def hardNegativeTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    crossScoredTopK(corpus, queries, k,
      extraQueryCols = Seq("label" -> "_qlabel"),
      extraCorpusCols = Seq("label" -> "neg_label"),
      pairPredicate = col("_qlabel").isNotNull && col("neg_label").isNotNull &&
        col("_qlabel") =!= col("neg_label"),
      extraOutCols = Seq("neg_label"))

  /** Matryoshka-funnel ANN: candidates ranked on the PREFIX cosine (the
    * first `prefixDims` components — mathematically equal to the cosine
    * of the renormalized truncated embeddings, so no renormalization
    * pass exists), top `k * oversample` survivors re-ranked by full-dim
    * exact cosine. With MRL-trained embeddings (Kusupati et al. 2022,
    * "Matryoshka Representation Learning") the prefix is a faithful
    * coarse scorer, making this the cheap funnel between brute force and
    * IVF: stage 1 spends prefixDims/dim of the FLOPs per pair, stage 2
    * is exact over a k·oversample-bounded set.
    *
    * Exact-baseline shape (broadcast queries × corpus), mirroring
    * [[bruteForceTopK]]; at 100 TB the same two-stage funnel composes
    * with [[ivfQuery]] probing, and stage 1 should read a MATERIALIZED
    * prefix column so the scan prunes bytes, not just FLOPs. Ties break
    * (cosine desc, neighbor_id) in both stages; NULL/invalid cosines
    * never consume a rank slot (the [[bruteForceTopK]] contract). */
  def matryoshkaTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      prefixDims: Int,
      oversample: Int = 4): DataFrame = {
    require(k >= 1, s"matryoshkaTopK: k must be >= 1, got $k")
    require(prefixDims >= 1, s"matryoshkaTopK: prefixDims must be >= 1, got $prefixDims")
    require(oversample >= 1, s"matryoshkaTopK: oversample must be >= 1, got $oversample")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    def withPre(df: DataFrame, idOut: String, vecOut: String, preOut: String) = df
      .select(col("id").as(idOut), col("vec").as(vecOut),
        slice(col("vec"), 1, prefixDims).as(preOut))
    val q = broadcast(withPre(queries, "query_id", "qvec", "qpre")
      .withColumn("qn", norm(col("qvec"))).withColumn("qpn", norm(col("qpre"))))
    val c = withPre(corpus, "neighbor_id", "cvec", "cpre")
      .withColumn("cn", norm(col("cvec"))).withColumn("cpn", norm(col("cpre")))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("prefix_cosine").desc, col("neighbor_id").asc)
    val candidates = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("prefix_cosine",
        cosineFromParts(dot(col("qpre"), col("cpre")), col("qpn"), col("cpn")))
      .filter(col("prefix_cosine").isNotNull)
      .withColumn("_prank", row_number().over(wPre))
      .filter(col("_prank") <= k * oversample)
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates
      .withColumn("cosine",
        cosineFromParts(dot(col("qvec"), col("cvec")), col("qn"), col("cn")))
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("prefix_cosine"),
        col("cosine"), col("rank"))
  }

  /** LSH-bucketed approximate top-k: corpus and queries are bucketed by an
    * `nBits` random-hyperplane signature; candidates share a bucket; exact
    * cosine re-ranks within buckets. Recall grows with fewer bits or with
    * multi-probe (`probeHammingRadius = 1` also probes buckets differing in
    * one bit). `dim` is the embedding length (planes are literal arrays). */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nBits: Int = 8,
      dim: Int = 64,
      probeHammingRadius: Int = 0,
  ): DataFrame = {
    // Only radius 0 (own bucket) and 1 (plus nBits one-bit-flip probes)
    // are implemented — reject larger radii instead of silently probing
    // radius 1 and under-delivering the recall the caller asked for.
    require(probeHammingRadius >= 0 && probeHammingRadius <= 1,
      s"lshTopK: probeHammingRadius $probeHammingRadius unsupported (0 or 1)")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      norm(col("vec")).as("cn"), cosineLshBucket(col("vec"), nBits, dim).as("bucket"))
    val qBase = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn"), cosineLshBucket(col("vec"), nBits, dim).as("bucket0"))
    val probes: Column =
      if (probeHammingRadius <= 0) array(col("bucket0"))
      else array(col("bucket0") +: (0 until nBits).map(b =>
        col("bucket0").bitwiseXOR(lit(1L << b))): _*)
    val q = qBase.select(col("query_id"), col("qvec"), col("qn"),
      explode(probes).as("bucket"))

    // No dedup needed before ranking: each corpus row carries exactly ONE
    // bucket and the probe list holds distinct buckets, so a (query,
    // neighbor) pair can match at most once — a distinct() here would be
    // a pure no-op shuffle over the full candidate set.
    val scored = q.join(c, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosineFromParts(dot(col("qvec"), col("cvec")), col("qn"), col("cn")))
      .filter(col("cosine").isNotNull) // invalid pairs must not take rank slots
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // Squared euclidean distance — the native codegen kernel, the same
  // sequential fold (deterministic IEEE arithmetic, same value every run).
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExprs.sqDistNative(a, b)

  // Argmin cell over a PLAN-TIME LITERAL centroid table: a pure projection
  // — no join, no shuffle. Evaluates through the native codegen kernel
  // (ArgMinCellExpr: the centroid literal decodes ONCE per executor into
  // a primitive double[][] reference object; assignment is two nested
  // primitive loops). Assignment DID come to dominate at 1M vectors —
  // the interpreted per-cell fold cost more than the brute-force scan —
  // which is exactly the upgrade this kernel delivers. Same ascending
  // scan + strict-improvement tie rule as the fold below.
  private[operators] def assignCell(vec: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    require(cents.nonEmpty, "assignCell: empty centroid table")
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.functions.GraftFunctions.ensureRegistered(s)
        val sorted = cents.sortBy(_._1)
        val pos = graft.functions.ArgMinCellExpr.argMinCol(vec, sorted.map(_._2))
        // the native kernel returns the POSITION in the sorted centroid
        // table; map it back to the actual cell id so non-contiguous
        // centroid ids (a reused/filtered centroid set) keep value parity
        // with assignCellHof. element_at propagates a NULL position.
        if (sorted.zipWithIndex.forall { case ((id, _), i) => id == i }) pos
        else element_at(array(sorted.map(c => lit(c._1)): _*), pos + 1)
      case None => assignCellHof(vec, cents)
    }
  }

  // The struct-accumulator fold form — reference semantics and fallback.
  // (NOT an unrolled literal arithmetic chain: unrolling nCells*dim
  // literals costs Catalyst seconds of optimizer time per plan.)
  // private[graft]: parity-tested against the native kernel (NaN/Inf
  // inputs must yield NULL on BOTH eval paths).
  private[graft] def assignCellHof(vec: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val centArr = array(cents.sortBy(_._1).map { case (i, v) =>
      struct(lit(i).as("cell"), array(v.map(lit): _*).as("centroid"))
    }: _*)
    // field aliases are dropped inside lambda bodies — pin the accumulator
    // schema with an explicit cast on both branches
    val accType = "struct<d:double,cell:int>"
    val folded = aggregate(
      centArr,
      struct(lit(Double.MaxValue), lit(Int.MaxValue)).cast(accType),
      (acc, c) => {
        val d = sqDist(vec, c.getField("centroid"))
        when(d < acc.getField("d"),
          struct(d, c.getField("cell")).cast(accType)).otherwise(acc)
      },
      acc => acc.getField("cell"))
    // A surviving Int.MaxValue sentinel means no distance ever compared
    // true — null element / dimension mismatch (sqDist → NULL). Fold those
    // to NULL for value parity with the native kernel ([[ArgMinCellExpr]]).
    when(folded === Int.MaxValue, lit(null).cast("int")).otherwise(folded)
  }

  /** Deterministic distributed KMeans (Lloyd) for IVF cell training.
    *
    * Bit-reproducible regardless of partitioning or aggregation order —
    * unlike sampling-initialized k-means||, whose float sums vary with
    * thread scheduling:
    *  - init: the `nCells` vectors with the smallest ids;
    *  - assign: argmin squared euclidean over the literal centroid table
    *    ([[assignCell]] — a projection, no join and no shuffle);
    *  - update: per-dimension means through DECIMAL-exact sums (order
    *    independent), empty cells keep their previous centroid.
    *
    * Per iteration: one aggregation job (the only shuffle); only
    * nCells*dim tiny rows ever reach the driver. */
  def deterministicCentroids(
      corpus: DataFrame, // (id, vec) — vec may be float or double
      nCells: Int,
      iters: Int = 10,
      /** Lloyd trains on a deterministic hash-sample above this many rows
        * (standard IVF practice — cell geometry needs thousands of
        * vectors, not the full corpus; training on 1M vectors made IVF
        * slower than brute force). Below the cap the full input trains,
        * so small/pinned-oracle corpora are byte-identical. */
      maxTrainRows: Long = 100000,
  ): Seq[(Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // NOT persisted: the full corpus projection is scanned once for the
    // count and once to carve the sample — persisting it here would
    // write a second full copy of the corpus to storage just to read a
    // <= maxTrainRows slice back (measured seconds of fixed cost at 1M
    // vectors). Only the sample — the frame every Lloyd iteration
    // actually re-reads — is cached.
    val all = corpus.select(col("id"), transform(col("vec"), _.cast("double")).as("vec"))
    val total = all.count()
    val vecs = (
      if (total <= maxTrainRows) all
      else {
        // deterministic id-hash sample (~maxTrainRows rows, no RNG).
        // CEILING division: floor would give mod=1 for anything under
        // 2x the cap — i.e. "sample" the full corpus — and generally
        // overshoot the cap by up to 2x.
        val mod = math.max(1L, (total + maxTrainRows - 1) / maxTrainRows)
        all.filter(pmod(xxhash64(col("id")), lit(mod)) === 0)
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Seq[(Int, Seq[Double])] = vecs.orderBy(col("id").asc).limit(nCells)
      .select(col("vec")).as[Seq[Double]].collect().toSeq
      .zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 0 until iters) {
      // assignment is a literal-fold projection; the per-(cell, dimension)
      // decimal-exact means are the ONLY shuffle of the iteration, and
      // only nCells * dim tiny rows reach the driver. The cell is computed
      // in its own projection BELOW the explode — inlined above the
      // Generate it would re-evaluate once per exploded element.
      val means = vecs
        .select(assignCell(col("vec"), cents).as("cell"), col("vec"))
        // assignCell yields NULL for a null-element / wrong-dimension
        // vector — drop those from training (they cannot place in any
        // cell) instead of crashing the non-nullable Int decode below
        .filter(col("cell").isNotNull)
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        // decimal(38,12) headroom + loud overflow, same guard as
        // groupCentroids: ANSI-off folds an overflowed sum to NULL, which
        // would otherwise crash the non-nullable decode with an opaque
        // null-value error mid-training
        .agg((coalesce(
          sum(col("v").cast("decimal(38,12)")),
          raise_error(lit("deterministicCentroids: decimal(38,12) sum overflow — " +
            "element magnitude exceeds supported range")).cast("decimal(38,12)"))
          / count(lit(1))).cast("double").as("m"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1)
        .map { case (cell, rows) => cell -> rows.sortBy(_._2).map(_._3).toSeq }
      cents = cents.map { case (i, old) => (i, means.getOrElse(i, old)) }
    }
    vecs.unpersist()
    cents
  }

  /** A built IVF index: trained centroids plus the cell-assigned corpus
    * (the inverted file). [[assigned]] is persisted — release() when done.
    * Train once, serve many query batches: the per-batch cost is the probe
    * join + re-rank only; the corpus count, Lloyd iterations, and the
    * 1-per-vector assignment projection are paid once here. */
  final case class IvfIndex(
      centroids: Seq[(Int, Seq[Double])], assigned: DataFrame) {
    def release(): Unit = { assigned.unpersist(); () }
  }

  /** Cell-assigned corpus projection shared by the one-shot and indexed
    * paths: a pure codegen projection over the literal centroid table —
    * no join, no shuffle. */
  private def assignCorpus(
      corpus: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame =
    corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      norm(col("vec")).as("cn"),
      assignCell(transform(col("vec"), _.cast("double")), centroids).as("cell"))

  /** Train (or adopt) centroids and persist the assigned corpus.
    * `centroidsIn` skips Lloyd entirely — reuse a previous training across
    * index rebuilds or related corpora. */
  def buildIvfIndex(
      corpus: DataFrame,
      nCells: Int = 16,
      kmeansIters: Int = 6,
      maxTrainRows: Long = 100000,
      centroidsIn: Option[Seq[(Int, Seq[Double])]] = None,
  ): IvfIndex = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val centroids = centroidsIn.getOrElse(
      deterministicCentroids(corpus, nCells, kmeansIters, maxTrainRows))
    val assigned = assignCorpus(corpus, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(centroids, assigned)
  }

  /** Probe-and-rerank over centroids + an assigned corpus (the query side
    * of IVF, shared by [[ivfTopK]] and [[ivfQuery]]). The probe side is
    * explicitly broadcast: |queries| * nProbe tiny rows against the
    * corpus-sized inverted file — the corpus is never shuffled for the
    * candidate join; only the candidate set moves for the per-query
    * window. */
  /** Per-query probed cells: (query_id, qvec, qn, cell) for the `nProbe`
    * cells nearest to each query. Probe order must match the ASSIGNMENT
    * metric (euclidean argmin): per query, |q - c|^2 = |q|^2 - 2<q,c> +
    * |c|^2 orders cells by (|c|^2 - 2<q,c>) since |q|^2 is constant. A
    * raw -dot order would skip a query's own cell whenever centroid norms
    * differ (guaranteed for unnormalized embeddings) — systematic recall
    * loss at any nProbe. Shared by the exact-cosine and PQ probe paths. */
  private[operators] def probeCells(
      centroids: Seq[(Int, Seq[Double])],
      queries: DataFrame,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      centroids.map { case (c, v) => (c, v, v.map(x => x * x).sum) }
        .toDF("cell", "centroid", "cn2"))
    queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn"))
      .crossJoin(centDf)
      .withColumn("dist", col("cn2") - lit(2.0) * dot(col("qvec"), col("centroid")))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("cr") <= nProbe)
      .select(col("query_id"), col("qvec"), col("qn"), col("cell"))
  }

  private def ivfQueryInternal(
      centroids: Seq[(Int, Seq[Double])],
      assigned: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
  ): DataFrame = {
    val qCells = probeCells(centroids, queries, nProbe)

    // No dedup before ranking: every corpus vector is assigned exactly
    // ONE cell and the nProbe probed cells per query are distinct, so
    // (query, neighbor) pairs are unique by construction — a distinct()
    // would shuffle the full candidate set for nothing.
    val scored = broadcast(qCells).join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosineFromParts(dot(col("qvec"), col("cvec")), col("qn"), col("cn")))
      .filter(col("cosine").isNotNull) // invalid pairs must not take rank slots
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Query a built index: probe the `nProbe` nearest cells per query and
    * exact-cosine re-rank their members. Steady-state cost per batch:
    * one scan of the cached inverted file + |probed fraction| dot
    * products — none of the build-time fixed costs. */
  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(queries.sparkSession)
    ivfQueryInternal(index.centroids, index.assigned, queries, k, nProbe)
  }

  /** Persist an index to storage: centroids as a tiny parquet table, the
    * inverted file partitioned BY CELL. The partition layout is the
    * 100 TB story — a loaded index's probe join (broadcast query side on
    * the `cell` partition column) qualifies for dynamic partition
    * pruning, so a query batch reads ONLY the probed cells' files from
    * disk instead of scanning the corpus. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/assigned")
    // Saving is a NEW index generation: any streaming delta rows were
    // assigned under the PREVIOUS centroids, and their cell ids are
    // meaningless (or duplicated) under the new geometry — wipe the delta
    // area so loadIvfIndex cannot union stale assignments.
    val streamPath = new org.apache.hadoop.fs.Path(s"$path/assigned_stream")
    val fs = streamPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(streamPath)) { fs.delete(streamPath, true); () }
  }

  /** Continuous index maintenance: assign arriving embedding rows
    * (`id`, `vec`) to their IVF cells — a pure codegen projection over the
    * literal centroid table, so it is streaming-safe with NO state — and
    * append them to the saved index as a cell-partitioned parquet stream.
    * Rows land in `"$path/assigned_stream"`, NOT in the batch `assigned`
    * area: a streaming parquet sink owns its directory via the
    * `_spark_metadata` exactly-once log, and a batch-written file inside a
    * log-owned directory becomes invisible to readers — keeping the two
    * areas separate lets [[loadIvfIndex]] union them safely. Newly
    * ingested vectors are visible to the next load; cell-partitioning (and
    * with it dynamic partition pruning) applies to the streamed files the
    * same as the batch ones. Caller owns the returned query's lifecycle. */
  def streamingIvfIngest(
      stream: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      path: String,
      checkpoint: String,
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.functions.GraftFunctions.ensureRegistered(stream.sparkSession)
    assignCorpus(stream, centroids)
      .writeStream.format("parquet")
      .option("path", s"$path/assigned_stream")
      .option("checkpointLocation", checkpoint)
      .partitionBy("cell")
      .outputMode("append")
      .start()
  }

  /** Load a saved index. The inverted file stays DISK-backed (no cache
    * pin): per-batch reads touch only the probed cells' partitions, which
    * is the right trade at corpus scale — release() is a no-op. Any
    * [[streamingIvfIngest]] delta area is unioned in (by name — the
    * partition column's read position differs from the write schema). */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val centroids = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    val base = spark.read.parquet(s"$path/assigned")
    val streamPath = new org.apache.hadoop.fs.Path(s"$path/assigned_stream")
    val fs = streamPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read.parquet on a sink-log-owned dir trusts the log, so the decision
    // must too: orphan part files from a crashed uncommitted batch don't
    // count, and a log with zero committed adds must NOT trigger the read
    // (schema inference fails on it). Log batch files are tiny JSON lines
    // ("v1" header, one SinkFileStatus — with a "path" field — per add);
    // scanning them avoids Spark's private FileStreamSinkLog API. A
    // logless dir (plain batch writes) falls back to the data listing.
    val metaDir = new org.apache.hadoop.fs.Path(streamPath, "_spark_metadata")
    val hasStreamData =
      if (fs.exists(metaDir))
        fs.listStatus(metaDir).exists { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith(".") && !n.endsWith(".tmp") && {
            val in = fs.open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .exists(_.contains("\"action\":\"add\""))
            finally in.close()
          }
        }
      else fs.exists(streamPath) &&
        fs.listStatus(streamPath).exists(s => !s.getPath.getName.startsWith("_"))
    val assigned =
      if (hasStreamData) base.unionByName(spark.read.parquet(streamPath.toString))
      else base
    IvfIndex(centroids, assigned)
  }

  /** IVF (inverted-file) approximate top-k, one-shot form: corpus vectors
    * are assigned to KMeans centroid cells; a query probes its `nProbe`
    * nearest cells and exact cosine re-ranks only those cells' members.
    * The 100 TB shape: centroids are a tiny broadcast table, the corpus is
    * never shuffled (assignment is a projection, the probe side is the
    * broadcast), and per-query work is |probed cells| instead of |corpus|.
    * Fully deterministic ([[deterministicCentroids]]). Nothing is
    * persisted here — for repeated query batches build the index once
    * ([[buildIvfIndex]]/[[ivfQuery]]) instead of re-paying training +
    * assignment per call. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 2,
      kmeansIters: Int = 6,
      /** Lloyd training-sample cap, passed through to
        * [[deterministicCentroids]] — the training aggregation is the
        * dominant fixed cost at corpus scale, and a few hundred vectors
        * per cell already pin the geometry. Corpora at or below the cap
        * train on every vector (pinned oracles unchanged). */
      maxTrainRows: Long = 100000,
      /** Pre-trained centroids: skips Lloyd (and its corpus count). */
      centroidsIn: Option[Seq[(Int, Seq[Double])]] = None,
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val centroids = centroidsIn.getOrElse(
      deterministicCentroids(corpus, nCells, kmeansIters, maxTrainRows))
    ivfQueryInternal(centroids, assignCorpus(corpus, centroids), queries, k, nProbe)
  }

  /** Per-group embedding centroids (mean pooling — prototype/class
    * vectors). Scale shape: posexplode to (key, pos, v) rows, ONE shuffle
    * on (key, pos) with partial aggregation, then per-key reassembly in
    * position order. Sums run through DECIMAL (order-independent exact),
    * the division is a single IEEE double op — bit-reproducible under any
    * partitioning, and the SQL oracle reproduces it term for term.
    *
    * @return (key, centroid array<double>)
    */
  def groupCentroids(df: DataFrame, key: Column, vec: Column): DataFrame =
    df.select(key.as("k"), posexplode(vec).as(Seq("pos", "v")))
      // no native kernels here — pure built-ins, nothing to register
      .groupBy(col("k"), col("pos"))
      // count the non-null values sum() actually folded, so a null vector
      // element can never silently shrink the mean. decimal(38,12) leaves
      // ~1e26 of integer headroom; if a per-(key,pos) sum still overflows,
      // ANSI-off folds it to NULL — raise instead of emitting a silently
      // null centroid element (count > 0 means the null can only be
      // overflow).
      .agg((coalesce(
        sum(col("v").cast("decimal(38,12)")),
        when(count(col("v")) > 0, raise_error(lit(
          "groupCentroids: decimal(38,12) sum overflow — element magnitude " +
            "exceeds supported range"))).cast("decimal(38,12)"))
        .cast("double") / count(col("v"))).as("m"))
      .groupBy(col("k"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))

  /** Per-dimension min-max feature scaling — the embedding-normalization
    * step run before quantization or mixed-source indexing (two models'
    * embeddings rarely share per-dimension ranges; un-scaled, one source
    * dominates every distance): scaled_i = (v_i - min_i)/(max_i - min_i),
    * constant dimensions ship 0.
    *
    * Engine parity: min/max are exact value SELECTIONS (no arithmetic),
    * float→double conversions are exact, and the scaling is one
    * fixed-association IEEE chain — live-oracle-able with no rounding
    * discipline. Scale shape: one explode-aggregation to dim stats
    * (|dim| rows, map-side combined), broadcast back; the corpus never
    * shuffles.
    *
    * @return (id, pos, v, scaled) — one row per vector element, pos
    *         0-based — ordered by (id, pos) */
  def minMaxScale(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val base = df.select(id.as("id"), vec.as("_v"))
      .filter(col("id").isNotNull && col("_v").isNotNull)
    val x = base.select(col("id"), posexplode(col("_v")).as(Seq("pos", "v")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
    val stats = x.groupBy(col("pos"))
      .agg(min(col("v")).as("_mn"), max(col("v")).as("_mx"))
    x.join(broadcast(stats), Seq("pos"))
      .select(col("id"), col("pos"), col("v"),
        when(col("_mx") > col("_mn"), (col("v") - col("_mn")) / (col("_mx") - col("_mn")))
          .otherwise(lit(0.0)).as("scaled"))
      .orderBy(col("id"), col("pos"))
  }

  /** Per-label centroid drift between two embedding snapshots — the
    * embedding-space monitor run when the upstream encoder, the corpus
    * mix, or the crawl window changes: how far did each label's mean
    * vector move? Catches silent encoder regressions that per-scalar
    * drift monitors (value histograms) are blind to.
    *
    * Same determinism contract as [[labelOutliers]]: micro-quantized
    * exact BIGINT per-(label, dim) sums, int64→double centroid
    * divisions, one fixed-order sequential fold per label for the
    * squared distance (rescaled through 1e12) — fully live-oracle-able.
    *
    * Scale shape: one explode-aggregation per side (map-side combined,
    * |labels|·dim state), a |labels|-keyed join of two tiny centroid
    * frames; the corpora never shuffle.
    *
    * Contract: all vectors within a label (on either side) must share ONE
    * dimensionality — the per-(label, pos) counts are the per-dim sample
    * sizes, and ragged inputs would make them (and the zip_with span)
    * position-dependent. The contract is ENFORCED: a label whose per-dim
    * counts disagree raises (filter-borne guard, so column pruning can
    * never drop it) instead of silently NULLing dist2.
    *
    * @return (label, n_a, n_b, dist2) ordered by label — labels present
    *         on only one side are dropped (no drift is defined) */
  def centroidDrift(
      a: DataFrame, b: DataFrame,
      label: Column, vec: Column): DataFrame = {
    def centroids(df: DataFrame, nName: String, mName: String): DataFrame = df
      .select(label.as("label"),
        transform(vec, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("_q"))
      .filter(col("label").isNotNull && col("_q").isNotNull)
      .select(col("label"), posexplode(col("_q")).as(Seq("pos", "q")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(min(col("n")).as("_n_min"), max(col("n")).as("_n_max"),
        transform(sort_array(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => x.getField("s").cast("double") / x.getField("n").cast("double"))
          .as(mName))
      // ragged-dimension tripwire as a FILTER predicate (survives any
      // downstream column pruning, unlike a projected guard column)
      .filter(when(col("_n_min") === col("_n_max"), lit(true))
        .otherwise(raise_error(concat(
          lit("centroidDrift: label "), col("label").cast("string"),
          lit(" mixes vector dimensionalities (per-dim counts "),
          col("_n_min").cast("string"), lit(".."), col("_n_max").cast("string"),
          lit(")"))).cast("boolean")))
      .withColumnRenamed("_n_min", nName)
      .drop("_n_max")
    centroids(a, "n_a", "_ma")
      .join(centroids(b, "n_b", "_mb"), Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        (aggregate(
          zip_with(col("_ma"), col("_mb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d) / lit(1.0e12)).as("dist2"))
      .orderBy(col("label"))
  }

  /** ANN recall report — the index-quality gate: per query, how much of
    * the EXACT top-k an approximate index actually returned
    * (`recall = |approx ∩ exact| / |exact top-k|`). Run on a sampled
    * query set before trusting an LSH/IVF/PQ configuration at corpus
    * scale; the per-query rows surface WHICH queries an index fails
    * (boundary-bucket queries for LSH, cell-edge queries for IVF), which
    * a single macro average hides.
    *
    * Engine parity: both inputs are already-ranked frames; hits and
    * counts are exact BIGINTs from one equi-join on (query_id,
    * neighbor_id), recall is one IEEE division.
    *
    * Scale shape: both sides are top-k-bounded by construction
    * (|queries|·k rows), so every join here is dimension-sized — the
    * corpus was only touched by the rankers upstream.
    *
    * @param approx (query_id, neighbor_id, rank) from the approximate index
    * @param exact  (query_id, neighbor_id, rank) from the exact scorer
    * @return (query_id, n_approx, n_exact, hits, recall) ordered by
    *         query_id — one row per query present in `exact` */
  def annRecallReport(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"annRecallReport: k must be >= 1, got $k")
    val a = approx.select(col("query_id"), col("neighbor_id"), col("rank"))
      .filter(col("rank") <= k)
    val e = exact.select(col("query_id"), col("neighbor_id"), col("rank"))
      .filter(col("rank") <= k)
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    val na = a.groupBy(col("query_id")).agg(count(lit(1)).as("n_approx"))
    val ne = e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
    ne.join(na, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        col("n_exact"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy(col("query_id"))
  }

  /** Per-label embedding outliers: the `k` vectors farthest (squared
    * euclidean) from their own label's centroid — the mislabeled-example
    * / anomaly surfacer run over an embedded corpus before training.
    *
    * Determinism contract (how this differs from [[groupCentroids]],
    * whose decimal→double mean forces a pinned oracle): every element is
    * first MICRO-QUANTIZED — `floor(v · 1e6)`, one IEEE multiply + floor,
    * bit-identical everywhere — so per-(label,dim) sums are exact
    * BIGINTs, the centroid is int64→double conversions plus one IEEE
    * division (micro-units), and each distance is a fixed-order
    * sequential fold over dimensions (`aggregate`, matching the oracle's
    * `list_reduce`). `dist2` rescales by one division through 1e12.
    * Quantization is part of the operator's contract, not an
    * approximation footnote: an outlier REPORT at 1e-6 embedding
    * resolution is the same report.
    *
    * Scale shape: one explode-aggregation to (label, dim) sums (state
    * |labels|·dim, map-side combined), the |labels|-bounded centroid
    * frame broadcast back onto the corpus (zero corpus shuffle), and the
    * top-k cut via the bounded [[graft.functions.TopKByAgg]] buffer —
    * never a per-label sort window over the corpus.
    *
    * @return (label, rank, vec_id, dist2) ordered by (label, rank) */
  def labelOutliers(
      df: DataFrame,
      id: Column,
      label: Column,
      vec: Column,
      k: Int = 5,
  ): DataFrame = {
    require(k >= 1, s"labelOutliers: k must be >= 1, got $k")
    val spark = df.sparkSession
    val base = df
      .select(id.cast("long").as("id"), label.as("label"),
        transform(vec, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("_q"))
      .filter(col("id").isNotNull && col("label").isNotNull && col("_q").isNotNull)
    val sums = base
      .select(col("label"), posexplode(col("_q")).as(Seq("pos", "q")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    val centroids = sums
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("s"), col("n")))),
        x => x.getField("s").cast("double") / x.getField("n").cast("double"))
        .as("_m"))
    val dist = base
      .join(broadcast(centroids), Seq("label"))
      .select(col("label"), col("id"),
        (aggregate(
          zip_with(col("_q"), col("_m"), (q, m) => {
            val d = q.cast("double") - m
            d * d
          }),
          lit(0.0), (acc, x) => acc + x) / lit(1.0e12)).as("dist2"))
    dist
      .groupBy(col("label"))
      .agg(graft.functions.TopKByAgg.topKIds(spark, col("dist2"), col("id"), k).as("_top"))
      .select(col("label"), posexplode(col("_top")))
      .select(col("label"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), col("col.ord").as("dist2"))
      .orderBy(col("label"), col("rank"))
  }

  /** Per-vector symmetric int8 quantization: `scale = max|v|/127` (clamped
    * away from zero) and `q(i) = floor(v(i)/scale + 0.5)` in [-127, 127],
    * stored as TINYINT — the candidate-generation representation is 8×
    * smaller than float64 on disk and on the wire, which is the dominant
    * cost of a 100 TB ANN sweep (scan + shuffle bytes, not FLOPs).
    *
    * `floor(x + 0.5)` instead of `round()`: round's half-away vs half-even
    * tie behavior differs across engines, while floor is bit-identical in
    * IEEE double everywhere — so an external system (or the DuckDB oracle)
    * can re-derive every quantized byte exactly. */
  def quantizeEmbeddings(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("id"), vec.as("vec"))
      .withColumn("scale",
        greatest(array_max(transform(col("vec"), x => abs(x))).cast("double") / lit(127.0),
          lit(1e-30)))
      .withColumn("qvec",
        transform(col("vec"), x =>
          floor(x.cast("double") / col("scale") + lit(0.5)).cast("tinyint")))

  /** Quantized top-k: candidates are scored on the int8 representation
    * (approximate dot = `intDot * scaleA * scaleB`), the top `k*oversample`
    * per query are re-ranked by exact float cosine, and the final top `k`
    * ship with exact values. Composes with the IVF/LSH candidate
    * generators — quantization shrinks whatever representation the
    * bucketing stage shuffles; here it is demonstrated over the exhaustive
    * scorer so the approximation error is isolated to the int8 step. */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, oversample: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(oversample >= 1, s"quantizedTopK: oversample must be >= 1, got $oversample")
    def quantized(df: DataFrame) =
      quantizeEmbeddings(df, col("id"), col("vec"))
        // the double view of the int8 vector feeds the native dot kernel;
        // products of <=127 integers summed over the dimension are exact
        // in double, so the approx score is bit-reproducible
        .withColumn("dq", transform(col("qvec"), _.cast("double")))
    // Candidate rows entering the approx ranking sort are NARROW —
    // (query_id, neighbor_id, approx), ~32 bytes. The float vectors are
    // NOT carried through the window: a first cut that threaded
    // qvec/cvec/norms through the ranking sort put ~1.5 KB/pair through
    // the per-partition sorts at 1M corpus × 100 queries (a measured 25×
    // spill-bound slowdown vs brute force). Survivors are a k*oversample
    // per-query handful, so the exact stage re-acquires vectors with a
    // broadcast of the candidate set — zero shuffle of the corpus.
    val c = quantized(corpus).select(
      col("id").as("neighbor_id"), col("scale").as("cscale"), col("dq").as("cq"))
    val q = broadcast(quantized(queries).select(
      col("id").as("query_id"), col("scale").as("qscale"), col("dq").as("qq")))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cand = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        ((dot(col("qq"), col("cq")) * col("qscale")) * col("cscale")).as("approx"))
      .withColumn("_ar", row_number().over(wa))
      .filter(col("_ar") <= k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, cand, k)
  }

  /** Shared exact re-rank tail of the two-stage rankers: the approximate
    * stage hands over a NARROW (query_id, neighbor_id) candidate set —
    * a k*oversample-per-query handful — which is broadcast back against
    * the corpus, so the float vectors are never shuffled and never pass
    * through the candidate ranking sort. */
  private def exactRerank(
      corpus: DataFrame, queries: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    val cv = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      norm(col("vec")).as("cn"))
    val qv = broadcast(queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cv.join(broadcast(cand), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("cosine",
        cosineFromParts(dot(col("qvec"), col("cvec")), col("qn"), col("cn")))
      .filter(col("cosine").isNotNull) // invalid pairs must not take rank slots
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  // ------------------------------------------------------- product quantization

  /** Trained PQ codebooks: `codebooks(m)` is subspace m's centroid table
    * (cell id -> subDim doubles), every table covering cells 0..nCodes-1. */
  final case class PqModel(codebooks: Seq[Seq[(Int, Seq[Double])]], subDim: Int) {
    require(codebooks.nonEmpty, "PqModel: no codebooks")
    require(codebooks.forall(_.map(_._1).sorted == (0 until codebooks.head.size)),
      "PqModel: every codebook must cover contiguous cells 0..nCodes-1")
    def nSub: Int = codebooks.size
    def nCodes: Int = codebooks.head.size
  }

  /** Train product-quantization codebooks (Jégou et al. 2011): the vector
    * is split into `nSub` contiguous subvectors and each subspace gets its
    * own `nCodes`-cell deterministic-Lloyd codebook. Training cost is
    * nSub independent [[deterministicCentroids]] runs, each bounded by
    * `maxTrainRows` sampled vectors; with `kmeansIters = 0` the codebooks
    * are the sub-slices of the nCodes smallest-id vectors — fully
    * SQL-re-derivable, which is what the `sim_pq_topk` oracle pins. */
  def trainPq(
      corpus: DataFrame, // (id, vec)
      dim: Int,
      nSub: Int,
      nCodes: Int,
      kmeansIters: Int = 4,
      maxTrainRows: Long = 100000): PqModel = {
    require(nSub >= 1 && dim >= 1 && dim % nSub == 0,
      s"trainPq: nSub must divide dim, got dim=$dim nSub=$nSub")
    require(nCodes >= 1, s"trainPq: nCodes must be >= 1, got $nCodes")
    val subDim = dim / nSub
    val cbs = (0 until nSub).map { m =>
      deterministicCentroids(
        corpus.select(col("id"), slice(col("vec"), m * subDim + 1, subDim).as("vec")),
        nCodes, kmeansIters, maxTrainRows)
    }
    PqModel(cbs, subDim)
  }

  /** PQ-encode the corpus: (id, codes array<int>) where codes(m) is the
    * argmin cell of subvector m — nSub bytes of information per vector, an
    * 8-32× narrower scan/shuffle representation than the float vector.
    * A pure codegen projection (argmin kernel over literal codebooks);
    * un-placeable vectors (null element / wrong dimension) carry a NULL
    * code and are excluded from ranking downstream. */
  def pqEncode(corpus: DataFrame, model: PqModel): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    corpus.select(col("id"), array((0 until model.nSub).map { m =>
      assignCell(
        transform(slice(col("vec"), m * model.subDim + 1, model.subDim), _.cast("double")),
        model.codebooks(m))
    }: _*).as("codes"))
  }

  /** PQ top-k via asymmetric distance computation: each query precomputes
    * its nSub × nCodes squared-distance table ONCE (a projection over the
    * literal codebooks), so scoring a candidate is nSub table lookups —
    * not a dim-length float loop — over the nSub-int encoded corpus. The
    * top k*oversample per query by ADC then re-rank exactly through
    * [[exactRerank]]. Composes with the IVF/LSH candidate generators the
    * same way [[quantizedTopK]] does; demonstrated over the exhaustive
    * scorer so the approximation error is isolated to the PQ step. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      model: PqModel,
      oversample: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(oversample >= 1, s"pqTopK: oversample must be >= 1, got $oversample")
    val enc = pqEncode(corpus, model)
      .select(col("id").as("neighbor_id"), col("codes"))
    // flattened per-query distance table: entry m*nCodes + cell
    val dtab = array((for {
      m <- 0 until model.nSub
      (_, cent) <- model.codebooks(m).sortBy(_._1)
    } yield sqDist(
      transform(slice(col("vec"), m * model.subDim + 1, model.subDim), _.cast("double")),
      array(cent.map(lit): _*))): _*)
    val q = broadcast(queries.select(col("id").as("query_id"), dtab.as("dtab")))
    val adc = (0 until model.nSub).map { m =>
      element_at(col("dtab"),
        (lit(m * model.nCodes) + element_at(col("codes"), m + 1) + lit(1)).cast("int"))
    }.reduce(_ + _)
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").asc, col("neighbor_id").asc)
    // candidate rows entering the ranking sort are NARROW: (query_id,
    // neighbor_id, approx) — same hygiene as quantizedTopK
    val cand = q.crossJoin(enc)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("approx"))
      .filter(col("approx").isNotNull)
      .withColumn("_ar", row_number().over(wa))
      .filter(col("_ar") <= k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, cand, k)
  }

  /** IVF-PQ (the production composition, Jégou et al. 2011 §IV): IVF
    * limits WHICH vectors are scored (the nProbe nearest cells), PQ
    * limits WHAT is scored (nSub code lookups over an nSub-int row
    * instead of a dim-float dot). The scoring pass touches only the
    * probed fraction of an inverted file that is 8-32× narrower than the
    * float corpus — the memory/IO representation a 100 TB index actually
    * caches — and the exact re-rank re-acquires float vectors only for
    * the k*oversample survivors. `corpus` must be the same (id, vec)
    * relation the index was built from. */
  def ivfPqTopK(
      index: IvfIndex,
      model: PqModel,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2,
      oversample: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(oversample >= 1, s"ivfPqTopK: oversample must be >= 1, got $oversample")
    // PQ-encode the inverted file (projection over the cached assignment;
    // a persisted IVF-PQ index would store these codes instead of cvec)
    val enc = index.assigned.select(col("cell"), col("neighbor_id"),
      array((0 until model.nSub).map { m =>
        assignCell(
          transform(slice(col("cvec"), m * model.subDim + 1, model.subDim), _.cast("double")),
          model.codebooks(m))
      }: _*).as("codes"))
    val dtab = array((for {
      m <- 0 until model.nSub
      (_, cent) <- model.codebooks(m).sortBy(_._1)
    } yield sqDist(
      transform(slice(col("qvec"), m * model.subDim + 1, model.subDim), _.cast("double")),
      array(cent.map(lit): _*))): _*)
    val probed = probeCells(index.centroids, queries, nProbe)
      .select(col("query_id"), col("cell"), dtab.as("dtab"))
    val adc = (0 until model.nSub).map { m =>
      element_at(col("dtab"),
        (lit(m * model.nCodes) + element_at(col("codes"), m + 1) + lit(1)).cast("int"))
    }.reduce(_ + _)
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").asc, col("neighbor_id").asc)
    val cand = broadcast(probed).join(enc, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("approx"))
      .filter(col("approx").isNotNull)
      .withColumn("_ar", row_number().over(wa))
      .filter(col("_ar") <= k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, cand, k)
  }

  /** LSH bucket-occupancy report for [[embeddingNearDupPairs]] sizing:
    * one row per bucket with its member count and the intra-bucket pair
    * count it would contribute. Run this (cheap: one map-side-combined
    * aggregation) before a large near-dup sweep to pick `nBits` — the
    * pair work is `sum(n*(n-1)/2)`, and a single hot bucket dominates it
    * long before it dominates row counts. */
  def lshBucketStats(df: DataFrame, nBits: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    df.select(cosineLshBucket(col("vec"), nBits, dim).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("n_pairs", col("n_vecs") * (col("n_vecs") - 1) / 2)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, LSH-bucketed
    * (both sides bucketed once; only intra-bucket pairs verified).
    *
    * `maxBucketSize` is the hot-bucket skew guard (same contract as
    * [[Dedup.ngramJaccardPairs]]'s `maxShingleDf`): a degenerate corpus —
    * many near-identical or zero vectors — can put millions of rows in ONE
    * bucket, and the self-join's intra-bucket term is quadratic, so a
    * single hot bucket stalls the whole sweep. With the cap set, buckets
    * above it contribute no pairs (their rows still pair in other-bucket
    * terms — there are none, each row has one bucket — so capped buckets
    * are SKIPPED, observably: size the cap from [[lshBucketStats]], and
    * note that a bucket of genuinely near-identical vectors is better
    * served by exact dedup on a content key than by enumerating its m²/2
    * pairs). Default None preserves exhaustive intra-bucket pairing. */
  def embeddingNearDupPairs(
      df: DataFrame, threshold: Double, nBits: Int = 8, dim: Int = 64,
      maxBucketSize: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // Pin the bucketed side once: the self-join would otherwise compute the
    // norm + nBits-hyperplane bucket projection twice (once per side).
    // LAZY localCheckpoint: lineage cut, one materialization at the first
    // action into block-cache (both join sides read the cached blocks),
    // blocks GC-reclaimed — and merely BUILDING the frame (plan dumps,
    // explain) stays free (same contract as Dedup.minHashLshPairs).
    val bAll = df.select(col("id"), col("vec"), norm(col("vec")).as("n"),
      cosineLshBucket(col("vec"), nBits, dim).as("bucket"))
      .transform(graft.operators.Pin.lazyPin)
    val b = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, s"embeddingNearDupPairs: maxBucketSize must be >= 2, got $cap")
        // One aggregation on the already-cached bucketed side; the semi
        // join shares the self-join's bucket partitioning (exchange reuse).
        val small = bAll.groupBy(col("bucket")).agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= cap).select(col("bucket"))
        bAll.join(small, Seq("bucket"), "left_semi")
      case None => bAll
    }
    // Pairs are unique without a distinct(): each id sits in exactly one
    // bucket, so an (id_a, id_b) pair joins at most once.
    b.as("l").join(b.as("r"), Seq("bucket"))
      .filter(col("l.id") < col("r.id"))
      .withColumn("cosine",
        cosineFromParts(dot(col("l.vec"), col("r.vec")), col("l.n"), col("r.n")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("cosine"))
  }

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    * re-expressed on the engine's verified primitives): embedding-cosine
    * near-dup pairs from [[embeddingNearDupPairs]] (LSH-bucketed — never
    * all-pairs), closed into duplicate groups by
    * [[Dedup.connectedComponents]], keeping the minimum-id representative
    * of each group. Returns the KEPT rows of `df` plus `sem_group_size`
    * (1 for rows with no semantic duplicate).
    *
    * Scale shape: inherits the bucketed pair join (cap hot buckets via
    * `maxBucketSize`) and the O(log n) large-star/small-star component
    * rounds; survivor selection is one aggregate + anti-join on ids. */
  def semanticDedup(
      df: DataFrame, // (id, vec)
      threshold: Double,
      nBits: Int = 8,
      dim: Int = 64,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val pairs = embeddingNearDupPairs(df, threshold, nBits, dim, maxBucketSize)
    val comps = Dedup.connectedComponents(pairs)
    val groups = comps.groupBy(col("component"))
      .agg(min(col("id")).as("_rep"), count(lit(1)).as("_gs"))
    val losers = comps.join(groups, Seq("component"))
      .filter(col("id") =!= col("_rep"))
      .select(col("id"))
    val repSizes = comps.join(groups, Seq("component"))
      .filter(col("id") === col("_rep"))
      .select(col("id"), col("_gs"))
    df.join(losers, Seq("id"), "left_anti")
      .join(repSizes, Seq("id"), "left")
      .withColumn("sem_group_size", coalesce(col("_gs"), lit(1L)))
      .drop("_gs")
  }

  /** Reciprocal (mutual) nearest-neighbor pairs: (a, b) such that b is
    * in a's cosine top-k AND a is in b's — the high-precision matching
    * rule used for translation mining, cluster seeding, and dedup
    * candidate confirmation (a one-directional neighbor is often a hub
    * artifact; a mutual one almost never is).
    *
    * Composition: ONE top-k run ([[bruteForceTopK]] here — swap an ANN
    * top-k at corpus scale, the mutuality join is generator-agnostic),
    * then a self-equi-join on the flipped (query, neighbor) key.
    * Cosine is symmetric bit-exactly (the dot fold multiplies
    * commutatively, norms are per-side), so each mutual pair surfaces
    * once with `id_a < id_b` carrying both direction ranks.
    *
    * @return (id_a, id_b, cosine, rank_ab, rank_ba) */
  def reciprocalNearestNeighbors(vecs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"reciprocalNearestNeighbors: k must be >= 1, got $k")
    val topk = bruteForceTopK(vecs, vecs, k).transform(graft.operators.Pin.lazyPin)
    val fwd = topk.select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
      col("cosine"), col("rank").cast("long").as("rank_ab"))
    val rev = topk.select(col("neighbor_id").as("id_a"), col("query_id").as("id_b"),
      col("rank").cast("long").as("rank_ba"))
    fwd.join(rev, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("cosine"), col("rank_ab"), col("rank_ba"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    * 1998): greedily select `k` results per query trading relevance
    * against redundancy —
    * `score(c) = λ·cos(q, c) − (1−λ)·max_{s ∈ selected} cos(c, s)` —
    * the de-duplicating reranker RAG retrieval runs after ANN.
    *
    * Spark-first shape: the candidate pool is the exact top-`poolSize`
    * per query ([[bruteForceTopK]]; swap an ANN pool at corpus scale —
    * only the pool generator changes), pinned with its vectors
    * (queries × poolSize rows, broadcast-scale). The greedy loop is a
    * BOUNDED driver loop over k DataFrame steps (the Bpe.train
    * precedent) — each step one join of remaining×selected, one max-agg,
    * one per-query argmin window over ≤ poolSize rows; no UDF, no
    * collect. Determinism: relevance and penalty reuse the engine's
    * fixed-fold cosine; argmax ties break (score desc, id asc); the
    * first pick is pure relevance (empty penalty = 0), so
    * `score₁ = λ·rel`.
    *
    * @return (query_id, neighbor_id, relevance, mmr_score, mmr_rank) */
  def mmrTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      lambda: Double = 0.5,
      poolSize: Int = 10): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"mmrTopK: need 1 <= k <= poolSize, got k=$k poolSize=$poolSize")
    require(lambda >= 0.0 && lambda <= 1.0, s"mmrTopK: lambda must be in [0,1], got $lambda")
    val vecs = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
    val pool = bruteForceTopK(corpus, queries, poolSize)
      .join(vecs, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").as("relevance"), col("cvec"))
      .transform(graft.operators.Pin.lazyPin)
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr_score").desc, col("neighbor_id").asc)
    def pick(scored: DataFrame, rank: Int): DataFrame = scored
      .withColumn("_rn", row_number().over(wPick))
      .filter(col("_rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("relevance"),
        col("mmr_score"), lit(rank.toLong).as("mmr_rank"), col("cvec"))
    var selected = pick(
      pool.withColumn("mmr_score", lit(lambda) * col("relevance")), 1)
      .transform(graft.operators.Pin.lazyPin)
    var i = 2
    while (i <= k) {
      val remaining = pool.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val pen = remaining
        .join(selected.select(col("query_id"),
          col("cvec").as("svec"), norm(col("svec")).as("sn")), Seq("query_id"))
        .withColumn("_sim",
          cosineFromParts(dot(col("cvec"), col("svec")), norm(col("cvec")), col("sn")))
        .groupBy(col("query_id"), col("neighbor_id"), col("relevance"), col("cvec"))
        .agg(max(col("_sim")).as("_pen"))
        .withColumn("mmr_score",
          lit(lambda) * col("relevance") - lit(1.0 - lambda) * col("_pen"))
      selected = selected.unionByName(pick(pen, i)).transform(graft.operators.Pin.lazyPin)
      i += 1
    }
    selected
      .select(col("query_id"), col("neighbor_id"), col("relevance"),
        col("mmr_score"), col("mmr_rank"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** ColBERT-style late-interaction (MaxSim) retrieval (Khattab &
    * Zaharia 2020): queries and passages are BAGS of token vectors and
    * `score(q, p) = Σ_{qt ∈ q} max_{pt ∈ p} cosine(qt, pt)` — per query
    * token, the best-matching passage token, summed. The multi-vector
    * complement of the single-vector [[bruteForceTopK]].
    *
    * Determinism: the per-(query-token, passage) max is order-free; the
    * per-passage SUM of those maxes is NOT, so it rides the fixed-order
    * fold — token maxes collect into a (tok_id)-sorted array and reduce
    * left-to-right from 0.0 (`aggregate`), exactly the association the
    * oracle's `list_reduce(list_prepend(0.0, array_agg(.. ORDER BY ..)))`
    * replays. NULL cosines (null vectors) drop before the max, so a
    * query token with no valid passage token simply contributes nothing
    * (n_qtoks records how many did).
    *
    * Scale shape: this is the EXACT baseline — query tokens broadcast
    * against the corpus token table (one broadcast-nested-loop, no
    * shuffle on the corpus), one (query, token, passage) max agg with
    * map-side partials, one per-passage fold, one per-query top-k
    * window. At corpus scale the cross term is replaced by per-token ANN
    * candidate generation ([[ivfQuery]] / [[graft.operators.Hnsw]]) over
    * the token table followed by the SAME two aggregations — the
    * documented ColBERT retrieval shape; only the candidate generator
    * changes.
    *
    * @param docTokens   (doc_id, tok_id, vec) passage token vectors
    * @param queryTokens (query_id, tok_id, vec) query token vectors
    *                    (broadcast — keep the query set bounded)
    * @return (query_id, doc_id, n_qtoks, score, rank) top-k passages per
    *         query, rank by (score desc, doc_id) */
  def lateInteractionTopK(
      docTokens: DataFrame,
      queryTokens: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"lateInteractionTopK: k must be >= 1, got $k")
    graft.functions.GraftFunctions.ensureRegistered(docTokens.sparkSession)
    val q = broadcast(queryTokens.select(
      col("query_id"), col("tok_id").as("_qt"),
      col("vec").as("qvec"), norm(col("vec")).as("qn")))
    val d = docTokens.select(
      col("doc_id"), col("vec").as("dvec"), norm(col("vec")).as("dn"))
    val perTok = q.crossJoin(d)
      .withColumn("_cos",
        cosineFromParts(dot(col("qvec"), col("dvec")), col("qn"), col("dn")))
      .filter(col("_cos").isNotNull)
      .groupBy(col("query_id"), col("_qt"), col("doc_id"))
      .agg(max(col("_cos")).as("_m"))
    val perDoc = perTok
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        count(lit(1)).as("n_qtoks"),
        aggregate(
          transform(array_sort(collect_list(struct(col("_qt"), col("_m")))),
            x => x.getField("_m")),
          lit(0.0), (acc, x) => acc + x).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    perDoc
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_qtoks"), col("score"), col("rank"))
  }
}

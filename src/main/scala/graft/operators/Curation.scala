package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators beyond dedup: benchmark
  * decontamination and reproducible stratified sampling — both standard
  * steps of a large-scale training-data pipeline.
  */
object Curation {

  /** Benchmark decontamination: count, per document, how many distinct
    * word n-gram shingles it shares with a benchmark/eval corpus — the
    * standard train-set hygiene gate (documents overlapping the eval set
    * leak test answers into training).
    *
    * Scale shape: both sides explode to (shingle, id) and meet in ONE
    * equi-join on the shingle — never a cross join. The benchmark side is
    * tiny relative to the corpus (eval sets are thousands of documents,
    * the corpus is billions), so its distinct-shingle table is
    * broadcast; the corpus side is a single scan + explode with no
    * shuffle at all in the broadcast plan.
    *
    * @return (id, n_bench_overlaps, contaminated) — one row per input
    *         document; `contaminated` = any shared shingle.
    */
  def decontaminate(
      docs: DataFrame, // (id, text)
      benchmark: DataFrame, // (id, text)
      n: Int = 8,
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val benchShingles = broadcast(
      benchmark
        .select(explode(TextFunctions.wordShingles(col("text"), n)).as("shingle"))
        .distinct())
    val docShingles = docs.select(col("id"),
      explode(TextFunctions.wordShingles(col("text"), n)).as("shingle"))
    val overlaps = docShingles
      .join(benchShingles, Seq("shingle"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bench_overlaps"))
    docs.select(col("id"))
      .join(overlaps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bench_overlaps"), lit(0L)).as("n_bench_overlaps"))
      .withColumn("contaminated", col("n_bench_overlaps") > 0)
  }

  /** Fuzzy decontamination — the near-dup complement of [[decontaminate]]:
    * flags training documents whose MinHash-ESTIMATED Jaccard similarity
    * to ANY benchmark document reaches `threshold`. Exact shingle overlap
    * misses paraphrased or lightly-edited contamination (a reworded eval
    * question shares few exact 8-grams but most of its 3-shingle set);
    * the banded-signature join catches it at near-dup granularity.
    *
    * Scale shape: both corpora reduce to `numHashes`-component MinHash
    * signatures (one shuffle each), candidates come from an LSH band
    * equi-join BETWEEN the corpora — the cross-corpus analogue of
    * [[Dedup.minHashLshPairs]], never all-pairs — and band collisions are
    * verified on the full signatures. The benchmark side is eval-set
    * sized, so its banded keys broadcast in practice.
    *
    * @return (id, max_bench_jaccard, contaminated) — one row per input
    *         document; the reported figure is the highest verified
    *         estimate over all band-colliding benchmark docs (0.0 when no
    *         band collides).
    */
  def fuzzyDecontaminate(
      docs: DataFrame, // (id, text)
      benchmark: DataFrame, // (id, text)
      shingleN: Int = 3,
      numHashes: Int = 16,
      numBands: Int = 4,
      threshold: Double = 0.5,
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    require(numBands >= 1 && numHashes % numBands == 0,
      s"fuzzyDecontaminate: numBands ($numBands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / numBands
    def signatures(df: DataFrame) = Dedup.minHashSignature(
      df.select(col("id"),
        explode(TextFunctions.wordShingles(col("text"), shingleN)).as("shingle")),
      col("id"), col("shingle"), numHashes)
      // each side feeds two reads (band keys + verification array): lazy
      // localCheckpoint pins the signature aggregation once, same
      // contract as minHashLshPairs
      .transform(graft.operators.Pin.lazyPin)
    // text-side shingling + the cross-frame signature matcher: the corpus
    // plays "batch", the benchmark plays the signature store
    Dedup.incrementalNearDup(
      signatures(docs), signatures(benchmark), numBands, rowsPerBand, threshold)
      .withColumnRenamed("max_seen_jaccard", "max_bench_jaccard")
      .withColumnRenamed("near_dup", "contaminated")
  }

  /** Deterministic sequence packing: assign documents to fixed-token-budget
    * packs (the pre-tokenization batching step of an LLM training
    * pipeline). Documents are sharded by a portable hash, then packed
    * contiguously in id order within each shard: a document starts a new
    * pack when the running token total would cross the budget.
    *
    * Scale shape: one hash shuffle on the shard key; the running total is
    * a window PARTITIONED by shard (never a global sort), so packing
    * parallelizes across `numShards` — which is how a real packer runs
    * (per-worker bins), and keeps results deterministic because both the
    * shard and the in-shard order derive from the data, not the
    * partitioning.
    *
    * @return input plus (shard, pack) — pack is unique within a shard;
    *         documents larger than the budget get a pack of their own.
    */
  def packSequences(
      df: DataFrame,
      id: Column,
      tokenCount: Column,
      tokenBudget: Long,
      numShards: Int = 64,
  ): DataFrame = {
    val base = df.select(id.cast("long").as("_id"), tokenCount.cast("long").as("_tok"))
      .withColumn("shard",
        pmod(TextFunctions.portableHash32(col("_id").cast("string")), lit(numShards))
          .cast("int"))
    // in-shard packing order = the id itself
    val packed = greedyPack(base.withColumn("_ord", col("_id")), tokenBudget)
      .select(col("shard"), col("_id"), col("pack"))
    df.join(packed, id.cast("long") === col("_id")).drop("_id")
  }

  /** Greedy in-order packing of (shard, _ord, _id, _tok) rows: within each
    * shard, walking rows in `_ord` order, a row starts a new pack when the
    * running token total would cross `tokenBudget` (oversized rows get a
    * pack of their own). Returns (shard, _ord, _id, _tok, pack) — input
    * columns pass through so callers that already carry everything they
    * need ([[trainingShardPlan]]) skip the join back entirely.
    *
    * Greedy packing is a sequential scan with resets — not a window
    * aggregate — so it runs as one in-order pass per shard partition
    * (genuine per-partition imperative logic, the mapPartitions case).
    * Deterministic across partitionings because both the shard and the
    * in-shard order derive from the data. Shared by [[packSequences]]
    * (order = id) and [[trainingShardPlan]] (order = epoch position). */
  private def greedyPack(base: DataFrame, tokenBudget: Long): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.select(col("shard"), col("_ord"), col("_id"), col("_tok"))
      .as[(Int, Long, Long, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("_ord"))
      .mapPartitions { rows =>
        var curShard = Int.MinValue
        var pack = 0L
        var fill = 0L
        rows.map { case (s, o, i, t) =>
          if (s != curShard) { curShard = s; pack = 0L; fill = 0L }
          if (fill > 0 && fill + t > tokenBudget) { pack += 1; fill = t }
          else fill += t
          (s, o, i, t, pack)
        }
      }
      .toDF("shard", "_ord", "_id", "_tok", "pack")
  }

  /** PII redaction patterns (email, IPv4, phone) — shared verbatim with
    * the SQL oracle, so they stay in the common Java/RE2 regex subset
    * (no lookaround, no backrefs). Applied email -> IP -> phone so the
    * digit-run phone pattern never eats an address already redacted. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[(]?[0-9][-0-9 ()]{6,}[0-9]"

  /** Corpus-hygiene PII scrub: typed placeholder tokens for emails, IPv4
    * addresses, and phone-shaped digit runs — a pure projection (codegen
    * regex, no shuffle, pushes nothing but reads one column). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-source sampling plan for [[mixtureSample]]: one row per source
    * with its observed token total, target mixture weight, and the derived
    * keep fraction `least(1.0, tokenBudget * weight / total_tokens)`.
    * Exposed separately so a pipeline can inspect/log the plan (and the
    * expected token yield `frac * total_tokens`) before committing to a
    * sweep — the aggregation is one map-side-combined shuffle over
    * (source) keys, tiny output. Sources absent from `weights` get
    * weight 0.0 (dropped by the sample). */
  def mixturePlan(
      df: DataFrame,
      source: Column,
      tokenCount: Column,
      weights: Map[String, Double],
      tokenBudget: Long,
  ): DataFrame = {
    require(tokenBudget > 0, s"mixturePlan: tokenBudget must be positive, got $tokenBudget")
    require(weights.values.forall(w => w >= 0 && java.lang.Double.isFinite(w)),
      "mixturePlan: weights must be finite and non-negative")
    val wCol = weights.toSeq.sortBy(_._1)
      .foldRight(lit(0.0): Column) { case ((s, w), rest) =>
        when(col("source") === s, lit(w)).otherwise(rest)
      }
    df.select(source.as("source"), tokenCount.cast("long").as("_tok"))
      .groupBy(col("source"))
      .agg(sum(col("_tok")).as("total_tokens"))
      .withColumn("weight", wCol)
      // literal-first association (budget * weight) / total matches the
      // tdp_mixture_plan / tdp_mixture_sample SQL oracles' left-assoc
      // rendering term for term — bit-identical IEEE doubles on both
      // engines (totals are exact below 2^53). Null/zero totals and zero
      // weights short-circuit to 0.0: without the guard, an all-null
      // token column sums to null (least() skips nulls -> 1.0) and
      // weight=0 over total=0 gives 0/0 = NaN (which Spark orders
      // GREATEST, so least() returns 1.0) — either way an unweighted
      // source would be kept entirely.
      .withColumn("keep_frac",
        when(coalesce(col("total_tokens"), lit(0L)) <= 0L || col("weight") === 0.0, lit(0.0))
          .otherwise(least(lit(1.0),
            lit(tokenBudget.toDouble) * col("weight") / col("total_tokens").cast("double"))))
  }

  /** Mixture sampling to a token budget — the corpus-mixing step of a
    * training-data pipeline: given a target mixture (`weights`: source ->
    * share of the budget) and a total token budget, keep each source at
    * the document-sampling rate that yields its share in expectation.
    * Selection reuses the md5-uniform of [[stratifiedSample]], so the
    * surviving document set is deterministic across runs, partitionings,
    * and engines; a source whose corpus is smaller than its share keeps
    * everything (fraction capped at 1.0 — the budget is a target, and
    * under-filled shares are visible in [[mixturePlan]]). Rows whose
    * source is NULL never match the plan's inner equi-join and are
    * dropped — the same fate as a source absent from `weights`
    * (weight 0.0).
    *
    * Scale shape: one tiny per-source aggregation ([[mixturePlan]] — at
    * most |sources| rows), broadcast back onto the corpus as a pure
    * filter; the corpus itself is never shuffled.
    */
  def mixtureSample(
      df: DataFrame,
      source: Column,
      key: Column,
      tokenCount: Column,
      weights: Map[String, Double],
      tokenBudget: Long,
  ): DataFrame =
    applyPlanFilter(df, source, key,
      mixturePlan(df, source, tokenCount, weights, tokenBudget))

  /** Shared plan-application tail for the mixture samplers: broadcast the
    * (source, keep_frac) plan, select by the portable md5-uniform of the
    * key (strict `<`), drop the plan columns. One place, so the two
    * samplers cannot silently diverge on selection semantics. */
  private def applyPlanFilter(
      df: DataFrame, source: Column, key: Column, plan: DataFrame): DataFrame = {
    val p = broadcast(plan.select(col("source").as("_pl_src"), col("keep_frac").as("_pl_frac")))
    val u = TextFunctions.portableHash32(key.cast("string")).cast("double") / lit(4294967296.0)
    df.join(p, source === col("_pl_src"))
      .filter(u < col("_pl_frac"))
      .drop("_pl_src", "_pl_frac")
  }

  /** Fixed-token-window document chunking — the context-window prep step
    * of a training pipeline: whitespace tokens, `chunkSize` tokens per
    * chunk, consecutive chunks overlapping by `overlap` tokens (stride =
    * chunkSize - overlap). A document shorter than one window yields one
    * chunk; the final chunk may be short. Deterministic: chunk count is
    * ceil((nTokens - overlap) / stride) floored at 1, offsets are pure
    * arithmetic.
    *
    * Scale shape: projection + explode — no shuffle, no state; output
    * rows ~ corpus tokens / stride, generated streaming per input row.
    */
  def chunkDocuments(
      df: DataFrame,
      key: Column,
      text: Column,
      chunkSize: Int,
      overlap: Int = 0,
  ): DataFrame = {
    require(chunkSize > 0, s"chunkDocuments: chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"chunkDocuments: overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    val toks = split(trim(text), "\\s+")
    val nChunks = greatest(lit(1L),
      floor((size(toks).cast("long") - lit(overlap) + lit(stride - 1)).cast("double") /
        lit(stride.toDouble)).cast("long"))
    val base = df.select(key, toks.as("_toks"), nChunks.as("_nc"))
    val keyName = base.columns.head
    // fail loudly instead of silently replacing the key column when its
    // name collides with a generated column
    require(!Set("chunk_id", "chunk_text", "n_tokens", "_toks", "_nc").contains(keyName),
      s"chunkDocuments: key column '$keyName' collides with a generated output column — alias it")
    val window =
      slice(col("_toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize))
    base
      .withColumn("chunk_id", explode(sequence(lit(0L), col("_nc") - 1)))
      .select(col(keyName), col("chunk_id"),
        array_join(window, " ").as("chunk_text"),
        size(window).as("n_tokens"))
  }

  /** Deterministic epoch shuffle — a bit-reproducible global training
    * order per epoch: the order key is the portable md5 hash of
    * "<key>:<epoch>", so every epoch is an independent pseudo-random
    * permutation, identical across runs, partitionings, and engines
    * (hash-collision ties break on the key). The 0-based position comes
    * from the range-sort [[GlobalIndex]] — a parallel range shuffle, not
    * a single-task global window.
    */
  def epochShuffle(df: DataFrame, key: Column, epoch: Int): DataFrame = {
    val h = TextFunctions.portableHash32(
      concat(key.cast("string"), lit(":"), lit(epoch.toString)))
    GlobalIndex
      .withGlobalIndex(df.withColumn("_shuffle_h", h),
        Seq(col("_shuffle_h"), key), "shuffle_pos")
      .drop("_shuffle_h")
  }

  /** Corpus-frequency boilerplate scrub — the CCNet/RefinedWeb line-dedup
    * hygiene pass: a separator-unit ("line") that appears in at least
    * `minDocFrac` of all documents is boilerplate (navigation chrome,
    * cookie banners, repeated headers/footers) and is removed from every
    * document, preserving the order of the surviving lines. The threshold
    * adapts to corpus size (df >= ceil(minDocFrac * nDocs)), so one
    * setting scales across ingests.
    *
    * Scale shape: explode to (id, pos, line) (no shuffle), ONE line-key
    * aggregation with map-side partials for document frequencies, a
    * left_anti join of the exploded corpus against the (small, filtered)
    * boilerplate line set — AQE broadcasts it — and one per-doc
    * re-aggregation that rebuilds the text with an array_sort on (pos,
    * line) structs, never a per-doc window. A repeated line inside ONE
    * document counts that document once (count_distinct on id).
    *
    * @param minDocFrac document-frequency threshold as a fraction of the
    *                   corpus (0, 1]; e.g. 0.6 = "in 60%+ of docs"
    * @param sep        literal line separator (regex-quoted for the
    *                   split), also used to re-join survivors
    * @return (id, n_lines, n_removed, text_clean) — a fully-boilerplate
    *         document keeps its row with text_clean = "" */
  def removeBoilerplateLines(
      docs: DataFrame,
      id: Column,
      text: Column,
      minDocFrac: Double,
      sep: String = "\n"): DataFrame = {
    require(minDocFrac > 0 && minDocFrac <= 1,
      s"removeBoilerplateLines: minDocFrac must be in (0, 1], got $minDocFrac")
    require(sep.nonEmpty, "removeBoilerplateLines: sep must be non-empty")
    val lines = docs
      .select(id.as("id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      // NOT pinned, deliberately: two consumers re-run this explode, but
      // it is a NARROW codegen'd split over the input scan — measured A/B
      // at 500k docs / 30M tokens: recompute 30.8 s, localCheckpoint pin
      // 140.7 s (4.5x worse; materializing 30M rows costs far more than
      // splitting twice). Pin only subtrees that contain a shuffle (the
      // containmentPairs explode+DISTINCT precedent, 5x the other way).
    val nDocs = docs.select(id.as("id")).agg(count(lit(1)).as("_n_docs"))
    val boiler = lines
      .groupBy(col("line"))
      .agg(count_distinct(col("id")).as("_df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("_df") >= ceil(lit(minDocFrac) * col("_n_docs").cast("double")))
      .select(col("line"))
    val rebuilt = lines
      .join(boiler, Seq("line"), "left_anti")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("_n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("text_clean"))
    docs
      .select(id.as("id"),
        size(split(text, java.util.regex.Pattern.quote(sep))).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        (col("n_lines") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Dedup-safe, tokenizer-aware training-shard plan — the full layout
    * decision of an epoch's training corpus as ONE deterministic frame:
    *
    *   1. exact-content dedup (min-id survivor per md5(text) — a document
    *      ingested twice must never be packed twice into an epoch),
    *   2. [[epochShuffle]] order (bit-reproducible pseudo-random global
    *      position, independent per epoch),
    *   3. round-robin shard assignment `shuffle_pos % numShards`
    *      (balanced to ±1 row by construction, no hash skew),
    *   4. greedy token-budget packing along the epoch order within each
    *      shard ([[greedyPack]] — the packSequences pass, epoch-ordered).
    *
    * Scale shape: one hash agg + semi-join for dedup, the GlobalIndex
    * range-sort (parallel, no global window), ONE repartition on the
    * shard key for the greedy pass — and NO join back, because greedyPack
    * passes every needed column through. The corpus never self-joins.
    *
    * @return (doc_id, shard, pack, shuffle_pos, n_tokens) — pack is
    *         unique within a shard; oversized documents pack alone. */
  def trainingShardPlan(
      df: DataFrame,
      id: Column,
      text: Column,
      tokenCount: Column,
      epoch: Int,
      tokenBudget: Long,
      numShards: Int,
  ): DataFrame = {
    require(numShards > 0, s"trainingShardPlan: numShards must be positive, got $numShards")
    require(tokenBudget > 0, s"trainingShardPlan: tokenBudget must be positive, got $tokenBudget")
    // r15: exact-dedup fingerprint keyed on xxhash64 instead of md5 (the
    // hash never reaches the output; same zero-collision parity argument
    // as the span-family gram key), and the survivor selection is ONE
    // min_by aggregation instead of a groupBy + semi-join that re-ran the
    // full-text hash projection twice (the old `hashed` frame fed both
    // sides unpinned — stage-attributed at ~2/3 of this operator's CPU).
    // Null-text rows keep the old semantics: the null fingerprint never
    // matched the semi-join's equality, so they were dropped — the
    // explicit isNotNull filter preserves that.
    val hashed = df.select(
      id.cast("long").as("doc_id"),
      tokenCount.cast("long").as("n_tokens"),
      when(text.isNotNull, xxhash64(text)).as("_th"))
    val deduped = hashed
      .filter(col("_th").isNotNull)
      .groupBy(col("_th"))
      .agg(min_by(struct(col("doc_id"), col("n_tokens")), col("doc_id")).as("_s"))
      .select(col("_s.doc_id").as("doc_id"), col("_s.n_tokens").as("n_tokens"))
    val sharded = epochShuffle(deduped, col("doc_id"), epoch)
      .withColumn("shard", pmod(col("shuffle_pos"), lit(numShards.toLong)).cast("int"))
    greedyPack(
      sharded.select(col("shard"), col("shuffle_pos").as("_ord"),
        col("doc_id").as("_id"), col("n_tokens").as("_tok")),
      tokenBudget)
      .select(col("_id").as("doc_id"), col("shard"), col("pack"),
        col("_ord").as("shuffle_pos"), col("_tok").as("n_tokens"))
  }

  /** The write path over [[trainingShardPlan]]: one parquet directory per
    * shard (`partitionBy`), rows inside each shard laid out by the
    * Z-value of (pack, n_tokens) — every written file then carries tight
    * min/max envelopes on BOTH columns, so a training reader resuming at
    * pack K and an analytics scan slicing by document length each prune
    * files from parquet footers alone.
    *
    * The `repartition(numShards, shard)` ahead of the write is the
    * small-files guard: without it every upstream task would open a
    * writer per shard it happens to hold rows for (tasks × shards files);
    * with it each shard's rows land in one task = one file per shard.
    *
    * @return the read-back frame (schema: shard partition column + plan
    *         columns), so callers can verify the written layout. */
  def writeTrainingShards(
      df: DataFrame,
      id: Column,
      text: Column,
      tokenCount: Column,
      epoch: Int,
      tokenBudget: Long,
      numShards: Int,
      outDir: String,
      zBits: Int = 12,
  ): DataFrame = {
    val plan = trainingShardPlan(df, id, text, tokenCount, epoch, tokenBudget, numShards)
    plan
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(ZOrder.zValue(
        Seq(col("pack"), col("n_tokens")),
        Seq((0L, 1L << 20), (0L, tokenBudget)), zBits))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    df.sparkSession.read.parquet(outDir)
  }

  /** Deterministic hash-stratified sampling: keep a per-stratum fraction
    * of rows, selected by a portable md5-derived uniform over the row key
    * — the same rows survive on every run, every partitioning, and every
    * engine (no RNG, no seed plumbing, reproducible lineage for a
    * training corpus).
    *
    * Scale shape: a pure filter projection — no shuffle, no sampling
    * state; pushes down to the scan.
    *
    * @param fractions stratum value -> keep fraction [0, 1]
    * @param defaultFraction keep fraction for strata not in the map
    */
  def stratifiedSample(
      df: DataFrame,
      stratum: Column,
      key: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0,
  ): DataFrame = {
    // uniform in [0, 1): 32-bit md5 prefix / 2^32
    val u = TextFunctions.portableHash32(key.cast("string")).cast("double") / lit(4294967296.0)
    val frac = fractions.toSeq.sortBy(_._1)
      .foldRight(lit(defaultFraction): Column) { case ((s, f), rest) =>
        when(stratum === s, lit(f)).otherwise(rest)
      }
    df.filter(u < frac)
  }

  /** Deterministic hash-based dataset split (train/val/test): each row is
    * assigned the first split whose cumulative fraction exceeds its
    * md5-uniform draw on the key. Pure projection — zero shuffle, bit-
    * reproducible across runs, partitionings, and engines (the draw is
    * the 32-bit md5 prefix / 2^32, same scheme as [[stratifiedSample]]).
    *
    * CORRELATION HAZARD (found by the round-12 composed-chain probe,
    * recorded in PLANS.md "ChainBench discovery"): the draw is a PREFIX of md5(key) — the same
    * ordering [[sourceQuota]] admits by and [[samplePerGroup]] /
    * [[exactSample]] select by. Splitting a set that was already
    * subsampled in md5-hash order is therefore catastrophically biased
    * (a quota that admits the smallest 55% of hashes puts every admitted
    * row in an 80% head split). When the upstream pipeline selected rows
    * by the same portable hash of the same key, pass a non-empty `seed`
    * to decorrelate the draw; the default keeps the historical
    * (seedless) assignment bit-stable.
    *
    * @param splits ordered (name, fraction) pairs; fractions must sum to 1
    * @param seed optional salt mixed into the draw (md5("key:seed"))
    */
  def hashSplit(
      df: DataFrame,
      key: Column,
      splits: Seq[(String, Double)],
      seed: String = "",
  ): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0.0),
      s"hashSplit: splits must be non-empty with positive fractions, got $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"hashSplit: fractions must sum to 1, got ${splits.map(_._2).sum}")
    val drawKey =
      if (seed.isEmpty) key.cast("string")
      else concat(key.cast("string"), lit(":" + seed))
    val u = TextFunctions.portableHash32(drawKey).cast("double") / lit(4294967296.0)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    // last split is the otherwise-branch: no boundary miss from float sum
    val expr = splits.init.zip(cum.init)
      .foldRight(lit(splits.last._1): Column) { case (((name, _), c), rest) =>
        when(u < c, lit(name)).otherwise(rest)
      }
    df.withColumn("split", expr)
  }

  /** Deterministic token-dropout augmentation — the contrastive-view
    * generator (SimCSE-style positives, dropout-noise robustness sets):
    * each token drops iff the portable hash of (id : position : seed)
    * lands under `dropPermille`, so the augmentation is bit-reproducible
    * across runs/engines/partitionings, re-seedable for multiple views,
    * and exactly rate-controlled in expectation. Pure projection — the
    * corpus never shuffles; the per-token draw rides a single
    * higher-order filter over the token array.
    *
    * @return (id, aug_text, n_tokens, n_dropped) */
  def augmentTokenDropout(
      df: DataFrame,
      id: Column,
      text: Column,
      dropPermille: Int,
      seed: String = "aug"): DataFrame = {
    require(dropPermille >= 0 && dropPermille <= 1000,
      s"augmentTokenDropout: dropPermille must be in [0, 1000], got $dropPermille")
    val toks = TextFunctions.tokens(text)
    df.select(id.as("id"), toks.as("_t"))
      .withColumn("_kept",
        filter(col("_t"), (t, i) =>
          pmod(TextFunctions.portableHash32(
            concat(col("id").cast("string"), lit(":"), i.cast("string"),
              lit(":"), lit(seed))),
            lit(1000L)) >= lit(dropPermille.toLong)))
      .select(col("id"),
        concat_ws(" ", col("_kept")).as("aug_text"),
        size(col("_t")).cast("long").as("n_tokens"),
        (size(col("_t")) - size(col("_kept"))).cast("long").as("n_dropped"))
  }

  /** Deterministic span-corruption augmentation — the T5 denoising
    * objective's data prep (Raffel et al. 2020): mask short token SPANS
    * (not independent tokens — that's [[augmentTokenDropout]]), replace
    * each with a numbered sentinel `<extra_id_K>`, and emit the target
    * string that restores them. Non-overlap by construction: the doc is
    * tiled into fixed `blockSize`-token blocks, each block masks its
    * first 1–3 tokens iff the portable hash of (id : block : seed)
    * lands under `maskPermille`, and sentinels number masked blocks in
    * document order. Bit-reproducible across runs/engines/partitionings
    * and re-seedable for multiple views.
    *
    * Scale shape: pure projection over the token array — zero shuffle;
    * the per-doc work is O(blocks · masked-blocks) for the sentinel
    * numbering (array_position over the masked-block list), bounded by
    * (len/blockSize)².
    *
    * @return (id, corrupted, targets, n_tokens, n_masked) */
  def augmentSpanCorruption(
      df: DataFrame,
      id: Column,
      text: Column,
      maskPermille: Int,
      blockSize: Int = 8,
      seed: String = "t5"): DataFrame = {
    require(maskPermille >= 0 && maskPermille <= 1000,
      s"augmentSpanCorruption: maskPermille must be in [0, 1000], got $maskPermille")
    require(blockSize >= 2, s"augmentSpanCorruption: blockSize must be >= 2, got $blockSize")
    val B = blockSize
    def hash(b: Column, tag: String) =
      pmod(TextFunctions.portableHash32(
        concat(col("id").cast("string"), lit(":"), b.cast("string"),
          lit(":" + tag + ":" + seed))), lit(1000L))
    val toks = TextFunctions.tokens(text)
    val base = df.select(id.as("id"), toks.as("_t"))
      .withColumn("_n", size(col("_t")).cast("long"))
      .withColumn("_blocks",
        when(col("_n") > 0L,
          // integer `div`, not `/` (Spark's `/` on longs is DOUBLE division)
          sequence(lit(0L), floor((col("_n") - 1L) / lit(B.toLong)).cast("long")))
          .otherwise(array().cast("array<long>")))
      .withColumn("_masked",
        filter(col("_blocks"), b => hash(b, "m") < lit(maskPermille.toLong)))
    def spanLen(b: Column) = lit(1L) + pmod(hash(b, "l"), lit(3L))
    def blkAvail(b: Column) = least(lit(B.toLong), col("_n") - b * lit(B.toLong))
    def sentinel(b: Column) =
      concat(lit("<extra_id_"),
        (array_position(col("_masked"), b) - 1L).cast("string"), lit(">"))
    base
      .withColumn("_pieces", transform(col("_blocks"), b => {
        val blk = slice(col("_t"), (b * lit(B.toLong) + 1L).cast("int"), lit(B))
        when(array_position(col("_masked"), b) > 0L,
          concat(array(sentinel(b)),
            slice(blk, (spanLen(b) + 1L).cast("int"), lit(B))))
          .otherwise(blk)
      }))
      .withColumn("_targets", transform(col("_masked"), b =>
        concat(array(sentinel(b)),
          slice(col("_t"), (b * lit(B.toLong) + 1L).cast("int"),
            least(spanLen(b), blkAvail(b)).cast("int")))))
      .select(col("id"),
        concat_ws(" ", flatten(col("_pieces"))).as("corrupted"),
        concat_ws(" ", flatten(col("_targets"))).as("targets"),
        col("_n").as("n_tokens"),
        aggregate(
          transform(col("_masked"), b => least(spanLen(b), blkAvail(b))),
          lit(0L), (acc, x) => acc + x).as("n_masked"))
  }

  /** Distribution-matched sampling — draw from `source` so the sampled
    * set's bucket histogram matches a `target` corpus's shape: the
    * controlled-eval prep step ("sample web docs length-matched to the
    * benchmark") that a uniform draw gets wrong whenever the two
    * populations differ. Per-bucket quota = n·(target bucket share)
    * with exact integer arithmetic (floor((n·cnt_t) / N_t) — widened
    * through DECIMAL so the product can't wrap), capped by what the
    * source bucket actually has; within each bucket the quota is
    * filled by the deterministic portable-hash order (the
    * [[samplePerGroup]] draw — an unbiased without-replacement sample,
    * bit-reproducible).
    *
    * Scale: one aggregation per side for the histograms (broadcast-
    * sized — |buckets| rows), one bucket-keyed rank window over the
    * source, one broadcast quota join. Σ sampled <= n by flooring;
    * buckets absent from the target draw nothing.
    *
    * @return sampled source rows: (id, bucket), ordered by (bucket, id) */
  def matchDistribution(
      source: DataFrame,
      sourceId: Column,
      sourceBucket: Column,
      target: DataFrame,
      targetBucket: Column,
      n: Long): DataFrame = {
    require(n >= 0, s"matchDistribution: n must be >= 0, got $n")
    val tHist = target
      .filter(targetBucket.isNotNull)
      .select(targetBucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("_tc"))
    val tTot = tHist.agg(coalesce(sum(col("_tc")), lit(0L)).as("_tn"))
    val quotas = tHist.crossJoin(broadcast(tTot))
      // n * _tc can exceed int64 for large corpora: widen the product
      // through DECIMAL(38,0), floor-divide exactly, land back in BIGINT
      .withColumn("quota",
        when(col("_tn") > 0L,
          floor((lit(n).cast("decimal(38,0)") * col("_tc").cast("decimal(38,0)"))
            / col("_tn").cast("decimal(38,0)")).cast("long"))
          .otherwise(lit(0L)))
      .select(col("bucket"), col("quota"))
    val byBucket = Window.partitionBy(col("bucket"))
      .orderBy(TextFunctions.portableHash32(col("id").cast("string")).asc, col("id").asc)
    source
      .filter(sourceId.isNotNull && sourceBucket.isNotNull)
      .select(sourceId.as("id"), sourceBucket.as("bucket"))
      .withColumn("_rn", row_number().over(byBucket))
      .join(broadcast(quotas), Seq("bucket"))
      .filter(col("_rn") <= col("quota"))
      .select(col("id"), col("bucket"))
      .orderBy(col("bucket"), col("id"))
  }

  /** Near-dup-ATOMIC train/val/test split — the leakage-safe assignment
    * [[hashSplit]] cannot give: a doc-keyed hash split strands near-
    * duplicate pairs across the train/test boundary (the contamination
    * tdp_split_leakage measures); here every connected component of the
    * near-dup graph lands WHOLLY in one split, because the md5 draw is
    * keyed by the component representative instead of the document.
    * Docs outside any component are their own singleton (component =
    * own id) and split exactly as hashSplit would.
    *
    * Scale shape: components via the O(log n) large-star/small-star
    * fixpoint over the (LSH-sized, not corpus-sized) pair set, one
    * left join corpus->components, a DISTINCT over component ids, the
    * usual broadcast-scale split projection, one equi-join back.
    * Fraction caveat inherited from any group-atomic split: realized
    * proportions are exact over COMPONENTS, approximate over documents
    * (a giant dup cluster moves its whole mass into one split — the
    * price of zero leakage).
    *
    * @return (id, component, split), one row per input id. */
  def componentSplit(
      df: DataFrame,
      id: Column,
      pairs: DataFrame,
      splits: Seq[(String, Double)],
      seed: String = ""): DataFrame = {
    val comp = Dedup.connectedComponents(pairs)
    val withComp = df.select(id.as("id"))
      .join(comp, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    val compSplit = hashSplit(
      withComp.select(col("component")).distinct(), col("component"), splits, seed)
    withComp.join(compSplit, Seq("component"))
      .select(col("id"), col("component"), col("split"))
  }

  /** The removal half of token-level substring dedup: excise every
    * duplicated span found by [[Dedup.duplicateSpans]] and rebuild the
    * document from its surviving tokens (single-space joined). Documents
    * with no duplicated span pass through UNTOUCHED — original text,
    * original whitespace, no re-tokenization cost.
    *
    * Returns `(id, clean_text, n_removed_tokens)`.
    *
    * Scale shape: the spans frame (typically a small fraction of the
    * corpus) is computed once and pinned; only documents that own a span
    * are exploded to (pos, token) and anti-joined against the covered
    * positions — the rest of the corpus is a pass-through projection. */
  def removeDuplicateSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int,
  ): DataFrame = {
    val base = docs.select(id.as("id"), text.as("text"))
    // Pin: read once for the covered positions, once for the dirty-doc
    // semi/anti split (the span derivation re-executes otherwise).
    val spans = Dedup.duplicateSpans(base, col("id"), col("text"), k)
      .transform(graft.operators.Pin.lazyPin)
    val covered = spans.select(col("id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val removedCounts = covered.groupBy(col("id")).agg(count(lit(1)).as("n_removed_tokens"))
    val dirty = base.join(spans.select(col("id")).distinct(), Seq("id"), "left_semi")
    val clean = base.join(spans.select(col("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("text").as("clean_text"), lit(0L).as("n_removed_tokens"))
    val rebuilt = dirty
      .select(col("id"), posexplode(TextFunctions.tokens(col("text"))))
      .withColumnRenamed("col", "tok")
      .join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
      // a doc whose every token was covered vanishes from the groupBy:
      // restore it as an empty string via the right join below
      .join(removedCounts, Seq("id"), "right")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_removed_tokens"))
    clean.unionByName(rebuilt)
  }

  /** Apply-step of [[graft.operators.Dedup.substringDedup]] — the
    * Lee et al. ExactSubstr REMOVAL shape: every cross-document
    * duplicated MAXIMAL SPAN is excised from all but its canonical
    * (first-by-(id, start)) occurrence. One-copy guarantee, precisely
    * (ADVICE r11): clusters key on the exact maximal-span TEXT, so a
    * duplicated substring survives once PER DISTINCT MAXIMAL EXTENSION —
    * occurrences whose maximal spans extend differently (the mosaic
    * case: the shared core embedded in different surroundings) land in
    * distinct clusters and each keeps its own canonical copy. When
    * occurrences share identical maximal spans (the dominant case for
    * boilerplate/licence blocks), exactly one copy survives — the
    * reference suffix-array removal, which excises raw byte ranges
    * independent of extension, removes strictly more. Contrast
    * [[removeDuplicateSpans]], which removes EVERY covered occurrence
    * (nothing survives) — right for scrubbing, wrong for dedup, where
    * the content itself should stay represented.
    *
    * Same rebuild shape as [[removeDuplicateSpans]]: covered positions
    * (non-canonical spans only) anti-join the token explode; untouched
    * docs pass through string-identical on the anti-join branch.
    *
    * @return (id, clean_text, n_removed_tokens) */
  def applySubstringDedup(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int,
  ): DataFrame = {
    val base = docs.select(id.as("id"), text.as("text"))
    // Pin: read once for the covered positions, once for the dirty-doc
    // semi/anti split (the span derivation re-executes otherwise).
    val spans = Dedup.substringDedup(base, col("id"), col("text"), k)
      .filter(!col("keep"))
      .select(col("id"), col("span_start"), col("span_end"))
      .transform(graft.operators.Pin.lazyPin)
    val covered = spans.select(col("id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val removedCounts = covered.groupBy(col("id")).agg(count(lit(1)).as("n_removed_tokens"))
    val dirty = base.join(spans.select(col("id")).distinct(), Seq("id"), "left_semi")
    val clean = base.join(spans.select(col("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("text").as("clean_text"), lit(0L).as("n_removed_tokens"))
    val rebuilt = dirty
      .select(col("id"), posexplode(TextFunctions.tokens(col("text"))))
      .withColumnRenamed("col", "tok")
      .join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
      // a doc whose every token was excised vanishes from the groupBy:
      // restore it as an empty string via the right join below
      .join(removedCounts, Seq("id"), "right")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_removed_tokens"))
    clean.unionByName(rebuilt)
  }

  /** Deterministic fixed-size sample PER GROUP: the k rows of each group
    * with the smallest portable id hash (hash order = an arbitrary-but-
    * fixed shuffle, so this is an unbiased without-replacement sample
    * that every engine and every rerun reproduces bit-identically —
    * the fixed-count complement of the fraction-based
    * [[stratifiedSample]]). One shuffle on the group key; the per-group
    * sort is bounded by the group size.
    */
  def samplePerGroup(
      df: DataFrame,
      groupCols: Seq[Column],
      id: Column,
      k: Int,
  ): DataFrame = {
    require(k > 0, s"samplePerGroup: k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols: _*)
      .orderBy(TextFunctions.portableHash32(id.cast("string")).asc, id.asc)
    df.withColumn("_spg_rn", row_number().over(w))
      .filter(col("_spg_rn") <= k)
      .drop("_spg_rn")
  }

  /** EXACT-N deterministic uniform sample — the global fixed-count
    * complement of [[ppsSample]] (expected-N) and [[samplePerGroup]]
    * (exact-N per group): the n rows with the smallest md5(key), i.e.
    * the first n of a reproducible uniform permutation. "Give me
    * exactly 10M eval documents" is a fixed-count contract an
    * expected-N Poisson draw cannot honor.
    *
    * Scale shape (why this is not `orderBy(md5).limit(n)`): a global
    * sort-limit either TakeOrdereds n rows through the driver or
    * range-shuffles the corpus. Instead, the first 4 hex chars of the
    * md5 priority RANGE-bucket the permutation into 65536 buckets: one
    * map-side-combined histogram pass finds the threshold bucket B
    * where the running count crosses n (a <= 65536-row driver-side
    * cumulative — bounded, corpus-size-free); every row in a bucket
    * below B is in unconditionally (a pure filter, no sort), and ONLY
    * the boundary bucket (~|corpus|/65536 rows) pays a single-partition
    * rank to cut the remainder. Two corpus scans (histogram + emit),
    * zero corpus-wide sorts or shuffles.
    *
    * Keys must be unique (duplicate keys share a priority; the
    * boundary tie-break falls to the key string itself). n >= |corpus|
    * returns every row.
    *
    * @return the sampled rows, original columns. */
  def exactSample(df: DataFrame, key: Column, n: Long): DataFrame = {
    require(n >= 0, s"exactSample: n must be >= 0, got $n")
    if (n == 0) return df.filter(lit(false))
    val tagged = df
      // a NULL key has no md5 priority — excluded (it would NPE the
      // bounded histogram's bucket read)
      .filter(key.isNotNull)
      .withColumn("_kstr", key.cast("string"))
      .withColumn("_pri", md5(col("_kstr")))
      .withColumn("_bkt", conv(substring(col("_pri"), 1, 4), 16, 10).cast("int"))
    val hist = tagged.groupBy(col("_bkt")).agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = hist.map(_._2).sum
    val out =
      if (n >= total) tagged
      else {
        var below = 0L
        var cut = hist.last._1
        var i = 0
        while (i < hist.length && below + hist(i)._2 < n) {
          below += hist(i)._2; cut = if (i + 1 < hist.length) hist(i + 1)._1 else cut
          i += 1
        }
        if (i < hist.length) cut = hist(i)._1
        val need = n - below
        val boundary = tagged
          .filter(col("_bkt") === cut)
          // single-partition rank over the ONE boundary bucket only
          // (~|corpus|/65536 rows) — never the corpus
          .withColumn("_rn", row_number().over(
            Window.orderBy(col("_pri"), col("_kstr"))))
          .filter(col("_rn") <= need)
          .drop("_rn")
        tagged.filter(col("_bkt") < cut).unionByName(boundary)
      }
    out.drop("_kstr", "_pri", "_bkt")
  }

  /** Snapshot diff between two corpus versions keyed by `idCol`: per id,
    * `status` ∈ added | removed | changed | unchanged. The versioning
    * primitive of an iterated training-data pipeline — what actually
    * changed between crawl N and crawl N+1 drives incremental downstream
    * recompute.
    *
    * Scale shape: each side projects to (id, fingerprint) BEFORE the
    * full-outer join, so only ids + fixed-width hashes shuffle — never
    * document bodies. Pass a content hash (md5/xxhash64 of the compared
    * columns) as `fingerprint`; a hash collision can only misreport
    * changed→unchanged, at hash-collision probability. Null fingerprints
    * compare null-safely (two null-content versions are `unchanged`).
    * Ids must be unique within each snapshot (a duplicated id
    * cross-multiplies in the join, as in any keyed diff).
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      fingerprint: Column,
  ): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"),
      fingerprint.as("_sd_oldf"), lit(true).as("_sd_inold"))
    val n = newSnap.select(col(idCol).as("id"),
      fingerprint.as("_sd_newf"), lit(true).as("_sd_innew"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("_sd_inold").isNull, lit("added"))
          .when(col("_sd_innew").isNull, lit("removed"))
          .when(col("_sd_oldf") <=> col("_sd_newf"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Probability-proportional-to-size (Poisson PPS) sampling with
    * Horvitz-Thompson weights — the size-aware counterpart of
    * [[stratifiedSample]]: each row is kept independently with inclusion
    * probability p_i = min(1, target * s_i / Σs), so the expected sample
    * size is ≈ `target` and big documents (by tokens/bytes) are
    * over-represented exactly in proportion to their size. The returned
    * `ht_weight` = 1/p_i makes any downstream total an unbiased
    * Horvitz-Thompson estimate of the corpus total (Σ kept x_i/p_i).
    *
    * Deterministic and engine-portable: the uniform is the 32-bit md5
    * prefix of the key (same scheme as [[stratifiedSample]]), and p_i
    * uses only multiplication/division (exactly-rounded IEEE ops), so the
    * surviving set and weights are bit-identical across runs,
    * partitionings, and engines. Rows with NULL or non-positive size
    * carry p = 0 and are never kept (a sizeless row cannot be
    * size-weighted; filter or floor sizes upstream to include them), and
    * a NULL key hashes to a NULL uniform, which never passes the
    * selection — same fate as in [[stratifiedSample]].
    *
    * Scale shape: one map-side-combined 1-row total, broadcast back onto
    * the corpus as a pure filter + projection — the corpus itself never
    * shuffles.
    */
  def ppsSample(
      df: DataFrame,
      key: Column,
      size: Column,
      target: Long,
  ): DataFrame = {
    require(target > 0, s"ppsSample: target must be positive, got $target")
    val total = df.agg(
      sum(when(size > 0L, size.cast("long")).otherwise(lit(0L))).as("_pps_total"))
    val u = TextFunctions.portableHash32(key.cast("string")).cast("double") / lit(4294967296.0)
    df.crossJoin(broadcast(total))
      .withColumn("_pps_p",
        when(size.isNull || size <= 0L || coalesce(col("_pps_total"), lit(0L)) <= 0L, lit(0.0))
          .otherwise(least(lit(1.0),
            lit(target.toDouble) * size.cast("double") / col("_pps_total").cast("double"))))
      .filter(u < col("_pps_p"))
      .withColumn("ht_weight", lit(1.0) / col("_pps_p"))
      .drop("_pps_total", "_pps_p")
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007, JACM 54(32),
    * "Priority sampling for estimation of arbitrary subset sums") — the
    * EXACT-n weighted complement of [[ppsSample]] (expected-n Poisson
    * PPS) and [[exactSample]] (exact-n uniform): each row draws priority
    * q_i = w_i / u_i with u_i uniform in (0, 1], the sample is the n
    * highest-priority rows, and with tau = the (n+1)-th priority the
    * estimator w-hat_i = max(w_i, tau) makes every downstream subset sum
    * Σ_sample w-hat_i an UNBIASED estimate of the population subset sum —
    * the "exactly 10M docs, weighted by tokens, still statistically
    * sound" contract ("give me a fixed-size weighted sample whose totals
    * I can trust") that neither fixed-rate PPS nor uniform exact-n honors.
    *
    * Determinism / engine parity: u_i = (h_i + 1) / 2^32 from the 32-bit
    * md5 prefix of the key (the [[stratifiedSample]] scheme; +1 keeps u
    * in (0, 1] so q is finite), and q is two exactly-rounded IEEE ops
    * (one add folded into u, one divide) — NO transcendentals, unlike the
    * classical Efraimidis–Spirakis u^(1/w) key whose pow()/log() would be
    * libm-dependent cross-engine. Ties on q break on the key string.
    *
    * Scale shape: the priority is a pure zero-shuffle projection; the
    * top-(n+1) cut is orderBy+limit — Spark plans TakeOrderedAndProject
    * (per-partition bounded heaps merged on the driver), so nothing
    * corpus-sized shuffles or sorts; n is a driver-bounded sample-size
    * contract (same bound class as [[exactSample]]'s histogram). The
    * (n+1)-row ranked frame then pays one bounded single-partition
    * window + a broadcast 1-row tau join.
    *
    * Rows with a NULL key or NULL/non-positive weight are excluded (no
    * priority exists for them). If the population has <= n rows the whole
    * population returns with tau = 0, i.e. est_weight = weight exactly —
    * the estimator's exhaustive case.
    *
    * @return original columns + `priority` (the draw, diagnostic) +
    *         `est_weight` (max(weight, tau) — the unbiased HT-style
    *         weight for downstream subset sums). */
  def prioritySample(
      df: DataFrame,
      key: Column,
      weight: Column,
      n: Long,
  ): DataFrame = {
    require(n > 0 && n < Int.MaxValue, s"prioritySample: n must be in [1, 2^31), got $n")
    val base = df.columns
    val scored = df
      .filter(key.isNotNull && weight.isNotNull && weight.cast("double") > 0.0)
      .withColumn("_ps_k", key.cast("string"))
      .withColumn("_ps_w", weight.cast("double"))
      .withColumn("_ps_q",
        col("_ps_w") /
          ((TextFunctions.portableHash32(col("_ps_k")).cast("double") + lit(1.0)) /
            lit(4294967296.0)))
    // TakeOrderedAndProject: per-partition top-(n+1) heaps, driver merge.
    // The (n+1)-row ranked frame is PINNED so the tau branch and the
    // output both read it — one corpus scan, not two (plan-audited).
    val top = scored.orderBy(col("_ps_q").desc, col("_ps_k").asc).limit((n + 1).toInt)
    val ranked = top.withColumn("_ps_rn",
      row_number().over(Window.orderBy(col("_ps_q").desc, col("_ps_k").asc)))
      .transform(graft.operators.Pin.lazyPin)
    // tau = the (n+1)-th priority when it exists, else 0 (exhaustive case)
    val tau = ranked.agg(
      coalesce(max(when(col("_ps_rn") === n + 1, col("_ps_q"))), lit(0.0)).as("_ps_tau"))
    ranked
      .filter(col("_ps_rn") <= n)
      .crossJoin(broadcast(tau))
      .withColumn("priority", col("_ps_q"))
      .withColumn("est_weight", greatest(col("_ps_w"), col("_ps_tau")))
      .select((base.map(col) ++ Seq(col("priority"), col("est_weight"))): _*)
  }

  /** Per-group priority sampling — exactly k rows per group with the
    * [[prioritySample]] estimator (per-group threshold tau_g = the
    * (k+1)-th priority INSIDE the group, est_weight = max(w, tau_g)):
    * "exactly 10k docs per source, weighted by tokens, subset sums still
    * unbiased within every source". The window-partitioned shape is the
    * one that scales across MANY groups — no driver merge at all, one
    * shuffle on the group key, each group's rank state bounded by the
    * group (the [[samplePerGroup]] scale contract, weighted).
    *
    * Same draw, same no-transcendentals parity, same NULL/non-positive
    * exclusions as [[prioritySample]]; groups with <= k rows return
    * whole with tau_g = 0 (exact weights).
    *
    * @return original columns + `priority` + `est_weight` */
  def prioritySamplePerGroup(
      df: DataFrame,
      group: Column,
      key: Column,
      weight: Column,
      k: Int,
  ): DataFrame = {
    require(k >= 1, s"prioritySamplePerGroup: k must be >= 1, got $k")
    val base = df.columns
    val scored = df
      .filter(key.isNotNull && weight.isNotNull && weight.cast("double") > 0.0)
      .withColumn("_ps_g", group)
      .withColumn("_ps_k", key.cast("string"))
      .withColumn("_ps_w", weight.cast("double"))
      .withColumn("_ps_q",
        col("_ps_w") /
          ((TextFunctions.portableHash32(col("_ps_k")).cast("double") + lit(1.0)) /
            lit(4294967296.0)))
    val w = Window.partitionBy(col("_ps_g")).orderBy(col("_ps_q").desc, col("_ps_k").asc)
    scored
      .withColumn("_ps_rn", row_number().over(w))
      .filter(col("_ps_rn") <= k + 1) // group-bounded tail: k+1 rows per group
      .withColumn("_ps_tau",
        coalesce(max(when(col("_ps_rn") === k + 1, col("_ps_q")))
          .over(Window.partitionBy(col("_ps_g"))), lit(0.0)))
      .filter(col("_ps_rn") <= k)
      .withColumn("priority", col("_ps_q"))
      .withColumn("est_weight", greatest(col("_ps_w"), col("_ps_tau")))
      .select((base.map(col) ++ Seq(col("priority"), col("est_weight"))): _*)
  }

  /** Temperature-scaled mixture sampling (alpha-sampling — the
    * multilingual/multi-source rebalancing of mC4/XLM-R): instead of
    * caller-fixed weights ([[mixtureSample]]), each source's share of the
    * token budget is its corpus share raised to `alpha` and renormalized,
    *
    *   q_i = p_i^alpha / Σ_j p_j^alpha,   p_i = tokens_i / Σ tokens
    *
    * alpha = 1 keeps natural proportions, alpha = 0 gives every source an
    * equal share, between the two big sources are down- and small sources
    * up-weighted. Rows keep with probability min(1, budget·q_i / s_i)
    * under the same md5-uniform as [[stratifiedSample]].
    *
    * Engine parity: shares are exact-rational; the single pow() per
    * source is rounded to 6 dp — the proven cross-engine contract
    * (txt_pmi_bigrams precedent; round-8 rule in OracleParitySpec: a
    * transcendental may feed a shipped value only under a <=6 dp
    * symmetric round, the 9-dp variant went driver-red twice) — the
    * normalizer is a decimal-exact sum of the rounded weights, and every
    * later step is one exactly-rounded division — so the plan AND the
    * sampled id set replay bit-identically in SQL. Consequence: a
    * source's weight resolves at 1e-6 — corpus shares below ~(1e-6)^(1/
    * alpha) round to weight 0 and drop from the plan.
    *
    * Scale shape: one tiny per-source aggregation, re-aggregated once for
    * the normalizer (|sources| rows), broadcast back onto the corpus as a
    * pure filter; the corpus never shuffles.
    */
  def temperatureMixturePlan(
      df: DataFrame,
      source: Column,
      tokenCount: Column,
      alpha: Double,
      tokenBudget: Long,
  ): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0 && java.lang.Double.isFinite(alpha),
      s"temperatureMixturePlan: alpha must be in [0, 1], got $alpha")
    require(tokenBudget > 0, s"temperatureMixturePlan: tokenBudget must be positive, got $tokenBudget")
    val totals = df
      .filter(source.isNotNull)
      .select(source.as("source"), tokenCount.cast("long").as("_tok"))
      .groupBy(col("source"))
      .agg(sum(when(col("_tok") > 0L, col("_tok")).otherwise(lit(0L))).as("s_tok"))
      .transform(graft.operators.Pin.lazyPin)
    val grand = totals.agg(coalesce(sum(col("s_tok")), lit(0L)).as("_S"))
    val weighted = totals.crossJoin(broadcast(grand))
      .withColumn("w",
        when(col("_S") <= 0L || col("s_tok") <= 0L, lit(0.0))
          .otherwise(round(
            pow(col("s_tok").cast("double") / col("_S").cast("double"), lit(alpha)), 6)))
      .transform(graft.operators.Pin.lazyPin)
    val norm = weighted.agg(
      sum(col("w").cast("decimal(28,9)")).cast("double").as("_W"))
    weighted.crossJoin(broadcast(norm))
      .withColumn("q",
        when(col("_W") <= 0.0, lit(0.0)).otherwise(col("w") / col("_W")))
      .withColumn("keep_frac",
        when(col("s_tok") <= 0L, lit(0.0))
          .otherwise(least(lit(1.0),
            lit(tokenBudget.toDouble) * col("q") / col("s_tok").cast("double"))))
      .select(col("source"), col("s_tok"), col("w"), col("q"), col("keep_frac"))
  }

  /** Apply a [[temperatureMixturePlan]] as a deterministic row filter
    * (md5-uniform on `key`, plan broadcast — corpus never shuffles).
    * NULL sources never match the plan join and are dropped. */
  def temperatureMixtureSample(
      df: DataFrame,
      source: Column,
      key: Column,
      tokenCount: Column,
      alpha: Double,
      tokenBudget: Long,
  ): DataFrame =
    applyPlanFilter(df, source, key,
      temperatureMixturePlan(df, source, tokenCount, alpha, tokenBudget))

  /** Water-filling token-budget allocation with per-source capacity caps
    * — the closed-form "data recipe" allocator: distribute a global
    * token budget B across sources proportionally to a weight, except
    * that no source can contribute more than it HAS (its capacity), and
    * budget freed by saturated sources re-flows to the others. This is
    * the exact fixpoint [[mixturePlan]]'s one-shot proportions miss: a
    * plain proportional plan either under-fills B (small sources can't
    * supply their share) or needs ad-hoc re-normalisation rounds.
    *
    * Closed form instead of iteration: allocation a_i = min(c_i, w_i·λ)
    * with the waterline λ chosen so Σ a_i fills B. Sources sorted by
    * c_i/w_i saturate in that order, so λ = (B − C_k) / (W − W_k) where
    * k = number of saturated sources — found with ONE pass of prefix
    * sums over the |sources|-bounded frame (a 20-row window at the
    * gate; thousands of rows at crawl scale — never the corpus, which
    * contributes only the per-source capacity aggregation).
    *
    * Exactness discipline: weights are INTEGER-valued (the caller
    * quantizes, e.g. floor(sqrt(c)·1e6) — the weight scale cancels out
    * of λ), so every windowed prefix sum is an exact BIGINT on both
    * engines (a float running sum would diverge between Spark's
    * sequential frames and DuckDB's segment-tree window aggregation);
    * λ and the saturation ratios are then doubles derived from exact
    * integers by a single division — bit-identical. The final
    * allocation floors w_i·λ, so Σ allocation may undershoot B by at
    * most |unsaturated sources| tokens. If B >= Σ c_i every source is
    * fully taken (allocation = capacity).
    *
    * @return one row per source: (source, capacity, weight,
    *         allocation, saturated), ordered by source. */
  def cappedMixturePlan(
      df: DataFrame,
      source: Column,
      tokenCount: Column,
      weight: Column => Column, // capacity column -> INTEGER weight expr
      budget: Long): DataFrame = {
    require(budget >= 0, s"cappedMixturePlan: budget must be >= 0, got $budget")
    val caps = df
      .filter(source.isNotNull && tokenCount.isNotNull)
      .select(source.as("source"), tokenCount.cast("long").as("_tok"))
      .groupBy(col("source"))
      .agg(sum(when(col("_tok") > 0L, col("_tok")).otherwise(lit(0L))).as("capacity"))
      // non-positive weight would zero-divide the saturation ratio and
      // corrupt the waterline silently — refuse loudly, riding the
      // surviving output column so pruning can never drop the guard
      .withColumn("weight",
        when(weight(col("capacity")).cast("long") > 0L,
          weight(col("capacity")).cast("long"))
          .otherwise(raise_error(concat(
            lit("cappedMixturePlan: weight must be a positive integer, got "),
            weight(col("capacity")).cast("string"),
            lit(" for capacity "), col("capacity").cast("string"))).cast("long")))
    // sort by saturation order r = capacity / weight; prefix sums give
    // every candidate waterline in one pass
    val byRatio = Window.orderBy(col("_r"), col("source"))
    val annotated = caps
      .withColumn("_r", col("capacity").cast("double") / col("weight").cast("double"))
      .withColumn("_ck", sum(col("capacity")).over(
        byRatio.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_wk", sum(col("weight")).over(
        byRatio.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_wtot", sum(col("weight")).over(
        byRatio.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      // waterline if everything up to AND INCLUDING this row saturates;
      // at the last row the denominator is 0 (nothing left to fill) —
      // null there, and it is only ever consumed when unsaturated rows
      // exist, which forces the last SATURATED row to have wk < wtot
      .withColumn("_lam",
        when(col("_wtot") === col("_wk"), lit(null).cast("double"))
          .otherwise((lit(budget) - col("_ck")).cast("double")
            / (col("_wtot") - col("_wk")).cast("double")))
      // λ(0): waterline if nothing saturates
      .withColumn("_lam0", lit(budget).cast("double") / col("_wtot").cast("double"))
    // a row saturates iff its ratio fits under the waterline computed
    // from the rows BEFORE it: r_k <= λ(k-1) (λ(0) for the first row).
    // Saturation is prefix-closed in ratio order, so the flag is a
    // running AND via min() over a boolean cast.
    val byRatioAll = byRatio.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSat = annotated
      .withColumn("_rn", row_number().over(byRatio))
      .withColumn("_lamPrev", coalesce(lag(col("_lam"), 1).over(byRatio), col("_lam0")))
      .withColumn("_satHere", (col("_r") <= col("_lamPrev")).cast("int"))
      .withColumn("saturated", min(col("_satHere")).over(byRatioAll) === 1)
    // final waterline = λ at the LAST saturated row in ratio order
    // (saturation is prefix-closed, so that is λ(k*)); λ(0) if none
    val lamFinal = withSat
      .filter(col("saturated"))
      .agg(max_by(col("_lam"), col("_rn")).as("_lamF"), count(lit(1)).as("_nsat"))
    withSat
      .crossJoin(broadcast(lamFinal))
      .withColumn("_lamUse",
        when(col("_nsat") === 0L, col("_lam0")).otherwise(col("_lamF")))
      .withColumn("allocation",
        when(col("saturated"), col("capacity"))
          .otherwise(least(col("capacity"),
            floor(col("weight").cast("double") * col("_lamUse")).cast("long"))))
      .select(col("source"), col("capacity"), col("weight"),
        col("allocation"), col("saturated"))
      .orderBy(col("source"))
  }

  /** HARD per-source token quota — the Common-Crawl-style "no single
    * domain may exceed N tokens" gate that proportional mixture planning
    * ([[mixturePlan]]/[[temperatureMixturePlan]]) cannot enforce: a plan
    * scales sources by a keep FRACTION, so a monster domain still lands
    * oversized; the quota is an exact ceiling with a deterministic
    * admission order (md5 of the key — a reproducible uniform shuffle,
    * so what survives under the cap is an unbiased sample of the
    * source). A document is admitted iff the running token total of its
    * source, in admission order, stays <= `quotaTokens` INCLUDING its
    * own tokens — i.e. the admitted set is the longest PREFIX of the
    * md5-ordered stream that fits the cap (tokens are non-negative, so
    * past the first overflow nothing later re-enters). Exact,
    * reproducible; a document larger than the whole quota ends its
    * source's admission where it lands — prefix-cut semantics, not
    * knapsack (skip-over packing is a sequential fold that neither
    * distributes nor stays order-free).
    *
    * Scale shape (the reason this is not one window): a cumulative sum
    * over `Window.partitionBy(source)` puts an entire source in ONE
    * task — the biggest domain of a 100 TB crawl in one partition. The
    * md5 admission order makes a two-level prefix sum exact instead:
    * the first hex byte of the priority is a RANGE of the order, so
    * per-(source, bucket) subtotals (one map-side-combined agg) prefix
    * across <= 256 bucket rows per source (tiny window), and the
    * within-bucket cumulative sum runs over (source, bucket) partitions
    * bounded at ~|source|/256. Three shuffles, all equi-keyed; no
    * stage's window state exceeds a hash bucket.
    *
    * @return (id, source, n_tokens, cum_tokens, admitted) — cum_tokens
    *         is the running total including this row, in admission
    *         order. */
  def sourceQuota(
      df: DataFrame,
      source: Column,
      key: Column,
      tokenCount: Column,
      quotaTokens: Long): DataFrame = {
    require(quotaTokens > 0, s"sourceQuota: quotaTokens must be positive, got $quotaTokens")
    val tagged = df
      // a NULL key has no deterministic priority (md5(NULL) is NULL and
      // would silently vanish at the offsets equi-join) — excluded like
      // a NULL source/count
      .filter(source.isNotNull && key.isNotNull && tokenCount.isNotNull)
      .select(key.as("id"), source.as("source"),
        tokenCount.cast("long").as("n_tokens"))
      // lowercase fixed-width hex: string order == numeric order, and
      // the first byte is a prefix of the order — the bucketing lever
      .withColumn("_pri", md5(col("id").cast("string")))
      .withColumn("_bkt", conv(substring(col("_pri"), 1, 2), 16, 10).cast("int"))
    val byBucket = Window.partitionBy(col("source")).orderBy(col("_bkt"))
    val offsets = tagged
      .groupBy(col("source"), col("_bkt"))
      .agg(sum(col("n_tokens")).as("_bt"))
      .withColumn("_off",
        coalesce(sum(col("_bt")).over(
          byBucket.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("_bkt"), col("_off"))
    val inBucket = Window.partitionBy(col("source"), col("_bkt"))
      .orderBy(col("_pri"), col("id"))
    tagged
      .join(offsets, Seq("source", "_bkt"))
      .withColumn("cum_tokens",
        col("_off") + sum(col("n_tokens")).over(
          inBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("admitted", col("cum_tokens") <= lit(quotaTokens))
      .select(col("id"), col("source"), col("n_tokens"), col("cum_tokens"), col("admitted"))
  }

  /** Leakage-safe TEMPORAL split with an embargo gap (the purged
    * time-series split, López de Prado 2018): a plain ts-cutoff split
    * still leaks when features/labels aggregate a window around each
    * event — train rows just before the cutoff see test-period signal.
    * So: `train` = ts <= cutoff − embargo, `embargo` = the gap rows
    * (DROPPED from both sides by the caller), `test` = ts > cutoff,
    * where the cutoff is the EXACT cutPercent-th order statistic of the
    * event time ([[DataQuality.exactQuantiles]] — bucket-histogram
    * selection, no global sort; rank = floor((n−1)·q/100) + 1).
    *
    * Scale shape: one stats pass + the bounded 65k-bucket histogram for
    * the cutoff (1 collected row), then a pure projection — the corpus
    * never shuffles.
    *
    * @return (id, ts_micros, split) with split in {train, embargo, test};
    *         NULL-ts rows are excluded */
  def timeEmbargoSplit(
      df: DataFrame,
      id: Column,
      ts: Column,
      cutPercent: Int,
      embargoMicros: Long): DataFrame = {
    require(cutPercent >= 1 && cutPercent <= 99,
      s"timeEmbargoSplit: cutPercent must be in [1, 99], got $cutPercent")
    require(embargoMicros >= 0L,
      s"timeEmbargoSplit: embargoMicros must be >= 0, got $embargoMicros")
    val base = df
      .select(id.as("id"), unix_micros(ts.cast("timestamp")).as("ts_micros"))
      .filter(col("ts_micros").isNotNull)
    val cutRow = DataQuality.exactQuantiles(base, col("ts_micros"), Seq(cutPercent))
      .select(col("value")).collect()
    require(cutRow.nonEmpty, "timeEmbargoSplit: no non-null timestamps")
    val cutoff = cutRow(0).getLong(0)
    base.withColumn("split",
      when(col("ts_micros") > lit(cutoff), lit("test"))
        .when(col("ts_micros") <= lit(cutoff - embargoMicros), lit("train"))
        .otherwise(lit("embargo")))
  }

  /** Deterministic stratified k-fold assignment (cross-validation /
    * sharded-eval splits): within each stratum, rows are ranked by their
    * portable md5 priority and fold = rank mod k — so fold sizes within
    * every stratum are EXACTLY balanced (differ by at most 1), unlike a
    * draw-based [[hashSplit]] whose realized fractions fluctuate.
    * Rank-mod-k is also immune to the hashSplit correlation hazard: a
    * set subsampled in md5 order still ranks 0..m-1, so folds stay
    * balanced even downstream of [[sourceQuota]] / [[exactSample]].
    *
    * Scale shape (the [[sourceQuota]] two-level prefix sum): a
    * `row_number` over `partitionBy(stratum)` would put the biggest
    * stratum in ONE task, so the rank decomposes — per-(stratum, first-
    * md5-byte-bucket) counts prefix across <= 256 bucket rows per
    * stratum, and the within-bucket row_number runs over partitions
    * bounded at ~|stratum|/256. The flat-window oracle agrees only if
    * the decomposition is exact.
    *
    * @return (id, stratum, fold) with fold in [0, k) */
  def kFoldSplit(
      df: DataFrame,
      stratum: Column,
      id: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"kFoldSplit: k must be >= 2, got $k")
    val tagged = df
      .filter(stratum.isNotNull && id.isNotNull)
      .select(id.as("id"), stratum.as("stratum"))
      .withColumn("_pri", md5(col("id").cast("string")))
      .withColumn("_bkt", conv(substring(col("_pri"), 1, 2), 16, 10).cast("int"))
    val byBucket = Window.partitionBy(col("stratum")).orderBy(col("_bkt"))
    val offsets = tagged
      .groupBy(col("stratum"), col("_bkt"))
      .agg(count(lit(1)).as("_bn"))
      .withColumn("_off",
        coalesce(sum(col("_bn")).over(
          byBucket.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stratum"), col("_bkt"), col("_off"))
    val inBucket = Window.partitionBy(col("stratum"), col("_bkt"))
      .orderBy(col("_pri"), col("id"))
    tagged
      .join(offsets, Seq("stratum", "_bkt"))
      .withColumn("fold",
        pmod(col("_off") + row_number().over(inBucket).cast("long") - lit(1L),
          lit(k.toLong)))
      .select(col("id"), col("stratum"), col("fold"))
  }

  /** Deterministic uniform negative sampling — the contrastive-pair prep
    * step: for each anchor row, `k` pseudo-random other rows drawn with
    * replacement from the corpus (word2vec/DPR-style random negatives;
    * for similarity-ranked ones see `Similarity.hardNegativeTopK`).
    * Self-pairing is structurally impossible: the offset is
    * 1 + hash % (n-1), so the negative index never equals the anchor's.
    * The draw is the portable md5 hash of "<index>:<rank>:<seed>" —
    * bit-reproducible across runs, partitionings, and engines.
    *
    * Scale shape: one [[GlobalIndex]] range-sort (parallel, no global
    * window), a 1-row count broadcast, a Generate fan-out of k rows per
    * anchor, and ONE equi-join back on the dense index to resolve
    * negative keys. Corpora with fewer than 2 rows yield no pairs. Keys
    * must be unique (a duplicated key would blur which row a pair names).
    */
  def negativeSample(df: DataFrame, key: Column, k: Int, seed: String = "neg"): DataFrame = {
    require(k >= 1, s"negativeSample: k must be >= 1, got $k")
    val idx = GlobalIndex.withGlobalIndex(
      df.select(key.as("anchor")), Seq(col("anchor")), "_ni")
    val n1 = idx.agg(count(lit(1)).as("_nn"))
    idx.crossJoin(broadcast(n1))
      .filter(col("_nn") > 1L)
      .withColumn("neg_rank", explode(sequence(lit(1), lit(k))))
      .withColumn("_negidx",
        pmod(col("_ni") + lit(1L) + pmod(
          TextFunctions.portableHash32(
            concat(col("_ni"), lit(":"), col("neg_rank"), lit(":"), lit(seed))),
          col("_nn") - lit(1L)), col("_nn")))
      .join(idx.select(col("anchor").as("negative"), col("_ni").as("_negidx")), Seq("_negidx"))
      .select(col("anchor"), col("neg_rank"), col("negative"))
  }

  /** Curriculum staging: split a corpus into `nStages` difficulty tiers
    * by exact score quantiles — the curriculum-learning prep step (feed
    * stage 0 first, hardest stage last). Stage boundaries are the
    * interpolated (`percentile_cont`) quantiles at i/nStages; a document
    * lands in the FIRST stage whose upper boundary is >= its score
    * (ties at a boundary go to the lower stage), so stages are
    * near-equal-sized with deterministic edge handling.
    *
    * Scale shape: one exact-percentile aggregation (a single hash-agg
    * whose buffer sorts per group — no global sort of the corpus), its
    * nStages-1 thresholds broadcast back onto the corpus as a pure
    * projection. The corpus never shuffles. At 100 TB swap the exact
    * percentile for `approx_percentile` (same plan shape, bounded
    * buffer); the exact form is kept here because the oracle pins
    * interpolated quantiles bit-for-bit.
    *
    * NULL scores yield a NULL stage (unscoreable is not a difficulty
    * tier); filter upstream to drop them.
    */
  def curriculumStages(
      df: DataFrame,
      score: Column,
      nStages: Int,
  ): DataFrame = {
    require(nStages >= 2, s"curriculumStages: nStages must be >= 2, got $nStages")
    val probes = (1 until nStages).map(i => i.toDouble / nStages)
    val thr = df.agg(
      percentile(score.cast("double"), array(probes.map(lit): _*)).as("_cs_thr"))
    val stage = (0 until nStages - 1).foldRight(lit(nStages - 1): Column) { (i, rest) =>
      when(score.cast("double") <= col("_cs_thr").getItem(i), lit(i)).otherwise(rest)
    }
    df.crossJoin(broadcast(thr))
      .withColumn("stage", when(score.isNull, lit(null)).otherwise(stage).cast("int"))
      .drop("_cs_thr")
  }

  /** Sequence-length bucketing report — the batching-efficiency planner:
    * assign each document to the smallest power-of-two length bucket that
    * holds it and report, per bucket, how much padding a
    * pad-to-bucket-boundary batcher would burn (the "are we wasting 40%
    * of FLOPs on pad tokens" readout that decides between bucketed
    * batching and [[packSequences]]).
    *
    * Buckets are 2^minLog2 .. 2^maxLog2; longer documents CLAMP to the
    * top bucket with their length truncated to it (the chunker's
    * contract — past the cap a sequence is split upstream, so the report
    * charges it zero padding rather than negative). The bucket ladder is
    * a finite CASE chain over exact integers — no log2, no float,
    * trivially oracle-portable; efficiency is one IEEE division.
    *
    * Scale shape: one zero-join projection + one map-side-combined
    * aggregation on the bucket key (at most maxLog2-minLog2+1 groups).
    *
    * @return (bucket, n_docs, sum_tokens, sum_padding, efficiency)
    *         ordered by bucket */
  def lengthBuckets(
      df: DataFrame,
      nTokens: Column,
      minLog2: Int = 4,
      maxLog2: Int = 14,
  ): DataFrame = {
    require(minLog2 >= 1 && maxLog2 > minLog2 && maxLog2 <= 62,
      s"lengthBuckets: need 1 <= minLog2 < maxLog2 <= 62, got ($minLog2, $maxLog2)")
    val cap = 1L << maxLog2
    val len = least(greatest(nTokens.cast("long"), lit(1L)), lit(cap))
    val bucket = (minLog2 until maxLog2).foldRight(lit(cap): Column) { (k, rest) =>
      when(len <= (1L << k), lit(1L << k)).otherwise(rest)
    }
    df.filter(nTokens.isNotNull)
      .select(len.as("_len"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_len")).as("sum_tokens"),
        sum(col("bucket") - col("_len")).as("sum_padding"))
      .withColumn("efficiency",
        col("sum_tokens").cast("double") /
          (col("sum_tokens") + col("sum_padding")).cast("double"))
      .orderBy(col("bucket"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1) — the
    * per-document repetition/format gate applied before a corpus enters
    * training: word-count bounds, mean word length bounds, symbol-to-word
    * ratio, bullet/ellipsis line fractions, alphabetic-word fraction and
    * a minimum distinct-stopword hit count, plus the conjunction `pass`.
    *
    * Every threshold is evaluated as a CROSS-MULTIPLIED integer
    * comparison (`10·n_sym < n_words` instead of `n_sym/n_words < 0.1`)
    * over exact per-document counts — no division, no double, no
    * rounding contract anywhere; the oracle re-derives each flag
    * bit-identically from the same counts.
    *
    * Tokenization contract (shared with the txt_quality family): words
    * split on single spaces, empties dropped; lines split on '\n' (a
    * lineless document is one line). Symbols are '#' characters plus
    * non-overlapping left-to-right '...' occurrences — both engines'
    * `replace` scans identically.
    *
    * Scale shape: a pure zero-shuffle projection — one scan, all counts
    * from per-row array/string expressions inside whole-stage codegen.
    * The final orderBy is presentation-only (drop it when feeding the
    * gate into a write).
    *
    * @return (id, n_words, sum_word_len, n_alpha_words, n_sym, n_lines,
    *         n_bullet_lines, n_ellipsis_lines, n_stop_distinct,
    *         ok_words, ok_mean_len, ok_symbol, ok_bullet, ok_ellipsis,
    *         ok_alpha, ok_stop, pass) ordered by id */
  def gopherRules(
      df: DataFrame,
      id: Column,
      text: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
  ): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "that")
    val base = df
      .select(id.as("id"), text.as("_t"))
      .filter(col("_t").isNotNull)
      .withColumn("_toks", filter(split(col("_t"), " "), t => t =!= ""))
      .withColumn("_lines", split(col("_t"), "\n"))
      .select(
        col("id"),
        size(col("_toks")).cast("long").as("n_words"),
        aggregate(transform(col("_toks"), t => length(t).cast("long")),
          lit(0L), (a, b) => a + b).as("sum_word_len"),
        size(filter(col("_toks"), t => t.rlike("[A-Za-z]"))).cast("long")
          .as("n_alpha_words"),
        ((length(col("_t")) - length(regexp_replace(col("_t"), "#", ""))) +
          expr("(length(_t) - length(replace(_t, '...', ''))) div 3"))
          .cast("long").as("n_sym"),
        size(col("_lines")).cast("long").as("n_lines"),
        size(filter(col("_lines"), l => l.rlike("^\\s*[-*•]")))
          .cast("long").as("n_bullet_lines"),
        size(filter(col("_lines"), l => l.endsWith("...")))
          .cast("long").as("n_ellipsis_lines"),
        size(filter(array_distinct(col("_toks")),
          t => t.isin(stop.map(x => x: Any): _*))).cast("long").as("n_stop_distinct"))
    base
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        lit(3L) * col("n_words") <= col("sum_word_len") &&
          col("sum_word_len") <= lit(10L) * col("n_words"))
      .withColumn("ok_symbol", lit(10L) * col("n_sym") < col("n_words"))
      .withColumn("ok_bullet",
        lit(10L) * col("n_bullet_lines") < lit(9L) * col("n_lines"))
      .withColumn("ok_ellipsis",
        lit(10L) * col("n_ellipsis_lines") < lit(3L) * col("n_lines"))
      .withColumn("ok_alpha",
        lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("ok_stop", col("n_stop_distinct") >= 2L)
      .withColumn("pass",
        col("ok_words") && col("ok_mean_len") && col("ok_symbol") &&
          col("ok_bullet") && col("ok_ellipsis") && col("ok_alpha") && col("ok_stop"))
      .orderBy(col("id"))
  }

  /** Per-group percentile normalization — the cross-source quality
    * calibrator: a raw score is only comparable WITHIN its source (each
    * source's scorer has its own scale), so selection thresholds must be
    * set on each document's percentile within its group. Exact-integer
    * cume_dist: pct_n9 = (#rows with score <= mine) * 1e9 div (group
    * size) — ties share a percentile by construction (RANGE frame), no
    * float enters, no ordinal tie-break needed.
    *
    * Scale: two window passes over ONE group-keyed exchange (the second
    * WindowExec reuses the first's partitioning — verified in the plan:
    * one hashpartitioning(source) shuffle) — never a global sort;
    * parallel across groups.
    *
    * @return input columns plus pct_n9 in (0, 1e9]. */
  def percentileNormalize(
      df: DataFrame,
      group: Column,
      score: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    df
      .withColumn("_le", count(lit(1)).over(
        w.partitionBy(group).orderBy(score.asc)
          .rangeBetween(w.unboundedPreceding, w.currentRow)))
      .withColumn("_n", count(lit(1)).over(w.partitionBy(group)))
      // counts are BIGINT; _le*1e9 binds the int64 horizon at ~9.2e9
      // rows per group — refuse loudly past it (nothing downstream is
      // guaranteed to range-check, so the guard rides the output column
      // itself, same discipline as chiSquare/benfordAudit/krippendorff)
      .withColumn("pct_n9",
        when(col("_n") <= lit(9000000000L), lit(1L))
          .otherwise(raise_error(concat(
            lit("percentileNormalize: group of "), col("_n").cast("string"),
            lit(" rows exceeds the 1e-9 fixed-point horizon (9e9)"))).cast("long"))
          * expr("(_le * 1000000000L) div _n"))
      .drop("_le", "_n")
  }

  /** Quality-classifier training pairs — the CCNet/FineWeb-style prep
    * step: a fastText-ish quality model trains on the corpus's own
    * EXTREMES, so pair each group's top-percentile documents (chosen)
    * with its bottom-percentile ones (rejected), rank-for-rank. Scores
    * are only comparable within a group (the [[percentileNormalize]]
    * premise), so both the cut and the pairing are per-group; the i-th
    * best pairs with the i-th worst, deterministically (percentile,
    * then id), and unmatched extremes on the deeper side drop (inner
    * join on rank).
    *
    * Scale: one group-keyed percentile pass (two windows, one
    * exchange), two filtered rank windows over the extreme tails only,
    * one (group, rank) equi-join.
    *
    * @return (group, pair_rank, chosen_id, chosen_score, rejected_id,
    *         rejected_score), ordered. */
  def classifierPairs(
      df: DataFrame,
      group: Column,
      id: Column,
      score: Column,
      hiPctN9: Long = 900000000L,
      loPctN9: Long = 100000000L): DataFrame = {
    require(loPctN9 < hiPctN9,
      s"classifierPairs: loPctN9 ($loPctN9) must be < hiPctN9 ($hiPctN9)")
    val scored = percentileNormalize(
      df.select(group.as("group"), id.as("id"), score.as("score")),
      col("group"), col("score"))
    val wTop = Window.partitionBy(col("group"))
      .orderBy(col("pct_n9").desc, col("id").asc)
    val wBot = Window.partitionBy(col("group"))
      .orderBy(col("pct_n9").asc, col("id").asc)
    val top = scored.filter(col("pct_n9") >= lit(hiPctN9))
      .withColumn("pair_rank", row_number().over(wTop).cast("long"))
      .select(col("group"), col("pair_rank"),
        col("id").as("chosen_id"), col("score").as("chosen_score"))
    val bot = scored.filter(col("pct_n9") <= lit(loPctN9))
      .withColumn("pair_rank", row_number().over(wBot).cast("long"))
      .select(col("group"), col("pair_rank"),
        col("id").as("rejected_id"), col("score").as("rejected_score"))
    top.join(bot, Seq("group", "pair_rank"))
      .select(col("group"), col("pair_rank"), col("chosen_id"), col("chosen_score"),
        col("rejected_id"), col("rejected_score"))
      .orderBy(col("group"), col("pair_rank"))
  }

  /** SPAN-level cross-corpus decontamination (the exact-substring
    * companion to [[decontaminate]]'s document-level flag): report every
    * maximal token range of a training document that reproduces a k-gram
    * window of the benchmark — the positions to EXCISE, not just the
    * document to drop. Document-level decon throws away a whole document
    * for one leaked quote; span-level keeps the document minus the leak.
    *
    * Mechanics: k-token windows of both corpora meet on an md5 gram-key
    * equi-join (benchmark side deduped; train side never self-joins),
    * then matched window starts merge into maximal spans with the same
    * gaps-and-islands pass as [[graft.operators.Dedup.duplicateSpans]]
    * (overlap or adjacency within k merges). Per-document window
    * ordering is a doc-keyed window — parallel across documents.
    *
    * @return (id, span_start, span_end, span_tokens, n_windows) — token
    *         offsets are 0-based inclusive, one row per maximal span. */
  def decontaminateSpans(
      corpus: DataFrame,
      id: Column,
      text: Column,
      benchmark: DataFrame,
      benchText: Column,
      k: Int,
      /** xxhash64 (default since r15) keys the train↔benchmark gram
        * semi-join on an 8-byte long instead of md5's 32-char string —
        * same trade and same zero-collision audit as
        * [[graft.operators.Dedup.duplicateSpans]]; the hash never
        * reaches the output. true restores the md5 key. */
      portableHash: Boolean = false): DataFrame = {
    require(k >= 1, s"decontaminateSpans: window size k must be >= 1, got $k")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val gram: Column => Column = if (portableHash) md5 else xxhash64(_)
    val w = org.apache.spark.sql.expressions.Window
    def grams(df: DataFrame, cols: Seq[Column], t: Column) = df
      .select((cols :+ TextFunctions.tokens(t).as("_t")): _*)
      .filter(size(col("_t")) >= k)
      .select((cols :+ posexplode(
        // native window generator (r14) — see Dedup.duplicateSpans
        graft.functions.WordGramsExpr.gramsCol(col("_t"), k)).as(Seq("start", "_g"))): _*)
      .withColumn("gh", gram(col("_g")))
      .drop("_g")
    val trainGrams = grams(corpus, Seq(id.as("id")), text)
    val benchGrams = grams(benchmark, Seq.empty, benchText).select(col("gh")).distinct()
    val hit = trainGrams.join(benchGrams, Seq("gh"), "left_semi")
    val byDoc = w.partitionBy(col("id")).orderBy(col("start"))
    hit
      .withColumn("_new",
        when(lag(col("start"), 1).over(byDoc).isNull
          || col("start") > lag(col("start"), 1).over(byDoc) + k, 1).otherwise(0))
      .withColumn("_span",
        sum(col("_new")).over(byDoc.rowsBetween(w.unboundedPreceding, w.currentRow)))
      .groupBy(col("id"), col("_span"))
      .agg(
        min(col("start")).as("span_start"),
        (max(col("start")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"), col("n_windows"))
  }

  /** 2-D Pareto frontier (skyline) for corpus selection: keep every row
    * not DOMINATED on (maximize `maxDim`, minimize `minDim`) — e.g. pick
    * the documents where no other document has at least the lexical
    * diversity at no more cost. Dominance is the standard skyline
    * relation: o dominates t iff o is >= on the maximized dim, <= on the
    * minimized dim, and strictly better on at least one. Ties on BOTH
    * dims survive together (neither dominates).
    *
    * Scale shape — the corpus never sees a global sort or window:
    *  1. one shuffle keyed by the maximized dim builds the per-value
    *     min(minDim) staircase (map-side combined; |distinct maxDim|
    *     rows);
    *  2. the strictly-better-maxDim running min is a single-partition
    *     window over THAT aggregate only — state bounded by the
    *     staircase size, not the corpus;
    *  3. frontier membership broadcasts back as an equi-join on maxDim
    *     (a row survives iff it achieves its value's min AND beats every
    *     higher value's best).
    *
    * @return (id, d, n) — frontier rows with d = maxDim, n = minDim. */
  def paretoFrontier(
      df: DataFrame,
      id: Column,
      maxDim: Column,
      minDim: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val m = df.select(id.as("id"), maxDim.cast("long").as("d"), minDim.cast("long").as("n"))
      .filter(col("d").isNotNull && col("n").isNotNull)
    val stair = m.groupBy(col("d")).agg(min(col("n")).as("_min_n"))
      // rows with strictly greater d = the window's preceding rows under
      // a desc order; the frame excludes the current (distinct) d
      .withColumn("_best_higher",
        min(col("_min_n")).over(
          w.orderBy(col("d").desc).rowsBetween(w.unboundedPreceding, -1)))
    m.join(broadcast(stair), "d")
      .filter(col("n") === col("_min_n") &&
        (col("_best_higher").isNull || col("_best_higher") > col("n")))
      .select(col("id"), col("d"), col("n"))
  }
}

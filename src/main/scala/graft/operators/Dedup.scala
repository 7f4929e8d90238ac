package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Designed scale-first:
  *
  *  - exact dedup is a hash `groupBy` (one shuffle on the fingerprint);
  *  - near-dup methods never materialize the quadratic pair space — candidate
  *    pairs come from an equi-join on LSH band / shingle keys, and only
  *    candidates are verified;
  *  - high-frequency shingles are dropped before the candidate join (a
  *    skew guard: a shingle shared by k docs contributes k^2 pairs).
  */
object Dedup {

  /** Exact dedup on a fingerprint column: keeps the row with the smallest
    * `idCol` per fingerprint (deterministic survivor). Adds `fingerprint`
    * and `dup_count`. Rows with a NULL fingerprint (e.g. null text under
    * md5) are each their own group — a null fingerprint proves nothing
    * about content equality, so those rows must never collapse together. */
  def exact(df: DataFrame, idCol: Column, fingerprint: Column): DataFrame = {
    // Second partition key: the row id when the fingerprint is null (one
    // group per row), a constant NULL otherwise (no effect on the group).
    val nullKey = when(col("fingerprint").isNull, idCol)
    val w = Window.partitionBy(col("fingerprint"), nullKey).orderBy(idCol.asc)
    df.withColumn("fingerprint", fingerprint)
      .withColumn("dup_count",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"), nullKey)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** MinHash signature values: for each of `numHashes` permutations i, the
    * minimum of `(a_i * h(shingle) + b_i) mod p` over the document's
    * shingles. Coefficients are fixed small primes-derived constants so the
    * oracle can reproduce them. Returns (id, mh_0 .. mh_{k-1}). */
  def minHashSignature(
      docShingles: DataFrame, // (id, shingle) exploded, distinct
      id: Column,
      shingle: Column,
      numHashes: Int,
  ): DataFrame = {
    require(numHashes >= 1, s"minHashSignature: numHashes must be >= 1, got $numHashes")
    val p = lit(2147483647L)
    // All numHashes aggregates read the ONE materialized `_h` column —
    // referencing the md5-derived hash expression directly would embed
    // an md5+conv subtree per hash function, up to numHashes× redundant
    // hashing over the dominant (id, shingle) stage.
    val aggs = (0 until numHashes).map { i =>
      min(pmod(lit(hashA(i)) * col("_h") + lit(hashB(i)), p)).as(s"mh_$i")
    }
    docShingles
      .withColumn("_id", id)
      .withColumn("_h", portableHash32(shingle))
      .groupBy(col("_id").as("id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic MinHash coefficients (public small-constant scheme);
    * reproduced literally in the correctness oracle. */
  def hashA(i: Int): Long = (1L + 2L * i * 104729L) % 1000003L
  def hashB(i: Int): Long = (i * 7919L + 13L) % 1000003L

  /** MinHash-estimated Jaccard between two equal-width signature arrays:
    * the fraction of agreeing components. Single source of truth for the
    * collision-verification formula — shared by the self-join pairing
    * ([[minHashLshPairs]]) and the cross-corpus contamination check
    * (Curation.fuzzyDecontaminate) so the two paths cannot desync. */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / lit(numHashes.toDouble)

  /** LSH band keys for a signature frame: one (id, band, bh) row per band,
    * `bh` = md5 over the band's `rowsPerBand` signature components. Shared
    * by the self-join pairing ([[minHashLshPairs]]) and the cross-corpus
    * contamination join (Curation.fuzzyDecontaminate). */
  def bandKeys(signatures: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val sigWidth = signatures.columns.count(_.startsWith("mh_"))
    require(numBands >= 1 && rowsPerBand >= 1 && numBands * rowsPerBand == sigWidth,
      s"bandKeys: numBands ($numBands) x rowsPerBand ($rowsPerBand) must tile the " +
        s"signature width ($sigWidth)")
    val bandCols = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(":", cols: _*)).as("bh"))
    }
    signatures
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** MinHash + LSH banding near-dup pairs: signatures are cut into
    * `numBands` bands of `rowsPerBand`; documents sharing any band hash are
    * candidates; candidates are verified by estimated Jaccard = fraction of
    * equal signature components >= `threshold`.
    *
    * Scale: the only joins are equi-joins on (band, bandHash) — LSH turns
    * O(n^2) similarity search into a shuffle on band keys. */
  def minHashLshPairs(
      signatures: DataFrame, // (id, mh_0..mh_{k-1})
      numBands: Int,
      rowsPerBand: Int,
      threshold: Double,
  ): DataFrame = {
    // Banding must tile the signature exactly: rowsPerBand = 0 (e.g. an
    // integer-division config with more bands than hashes) would hash
    // md5("") for EVERY band — all documents mutual candidates, an O(n^2)
    // shuffle — and then divide by k = 0 into a silently empty result;
    // a partial tiling would silently ignore trailing signature columns.
    val sigWidth = signatures.columns.count(_.startsWith("mh_"))
    require(numBands >= 1 && rowsPerBand >= 1 && numBands * rowsPerBand == sigWidth,
      s"minHashLshPairs: numBands ($numBands) x rowsPerBand ($rowsPerBand) must tile the " +
        s"signature width ($sigWidth)")
    val k = numBands * rowsPerBand
    // The signature frame feeds four reads below (band self-join left and
    // right, sig_a, sig_b); left lazy, the caller's signature DAG — a
    // shingle explode plus a k-way min aggregation, the dominant stage of
    // the near-dup path — would re-execute once per read. A LAZY
    // localCheckpoint cuts the lineage (all four reads reference one
    // cached RDD, materialized at the first action — building the frame
    // for a plan dump costs nothing); blocks are reclaimed by the context
    // cleaner when the result is dereferenced (same pin contract as
    // [[connectedComponents]]).
    val sigs = signatures.transform(graft.operators.Pin.lazyPin)
    val banded = bandKeys(sigs, numBands, rowsPerBand)

    // Band buckets can be arbitrarily large (every true near-dup group
    // lands in one bucket), so candidates come from a self-equi-join on the
    // band key — skew is AQE's job — NOT from posting-list expansion,
    // which would materialize |bucket|^2 pair structs inside single rows.
    val candidates = banded.as("l")
      .join(banded.as("r"), Seq("band", "bh"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    val sigA = sigs.select(col("id").as("id_a"),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("sig_a"))
    val sigB = sigs.select(col("id").as("id_b"),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("sig_b"))

    candidates
      .join(sigA, "id_a")
      .join(sigB, "id_b")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Pairwise n-gram containment between corpus groups (sources, snapshots,
    * splits) — the corpus-overlap matrix behind "how much of source B is
    * already in source A" and train/test leakage audits at the GROUP
    * level (the doc-level variant is Curation.decontaminate):
    *
    *   containment(a → b) = |shingles(a) ∩ shingles(b)| / |shingles(a)|
    *
    * over DISTINCT word shingles per group. Asymmetric by definition —
    * both directions emit. Exact set arithmetic with one exactly-rounded
    * division; no estimate, no rounding discipline.
    *
    * Scale shape: ONE heavy shuffle — a per-shingle `collect_set(group)`
    * aggregation (map-side partial sets, so the exchange carries
    * per-partition-distinct rows; state per shingle is bounded by
    * |groups|, few by construction: sources, splits, snapshots).
    * Everything downstream — per-group sizes, ordered-pair explosion
    * (≤ |groups|² rows per SHARED shingle), the pair count — runs on the
    * pinned set frame; the |groups|-row size table broadcasts back. The
    * corpus never self-joins (the previous distinct + shingle-keyed
    * self-join shape measured 3× slower at 500k docs: 28.9 s vs 9.0 s
    * warm — the join shuffled the 29 M-row set frame twice).
    *
    * @return (group_a, group_b, n_a, n_common, containment) for every
    *         ordered pair with at least one shared shingle, ordered */
  def groupShingleOverlap(
      df: DataFrame, group: Column, text: Column, shingleN: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val bySh = df
      .select(group.cast("string").as("g"),
        explode(graft.functions.TextFunctions.wordShingles(text, shingleN)).as("sh"))
      .filter(col("g").isNotNull)
      .groupBy(col("sh")).agg(collect_set(col("g")).as("gset"))
      .transform(graft.operators.Pin.lazyPin) // sizes + the pair explosion both read it
    val sizes = bySh
      .select(explode(col("gset")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    val common = bySh
      .filter(size(col("gset")) >= 2)
      .select(explode(col("gset")).as("group_a"), col("gset"))
      .select(col("group_a"), explode(col("gset")).as("group_b"))
      .filter(col("group_a") =!= col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("g").as("group_a"), col("n").as("n_a"))), "group_a")
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_common"),
        (col("n_common").cast("double") / col("n_a").cast("double")).as("containment"))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** 32-bit SimHash over a token multiset: bit j of the result is 1 iff the
    * sum over tokens of (+1 when bit j of `h(token)` is set else -1) is
    * positive. Near-dup docs differ in few bits (small Hamming distance). */
  def simHash32(docTokens: DataFrame /* (id, token) */, id: Column, token: Column): DataFrame = {
    // a null token proves nothing (same convention as exact()/minhash):
    // unfiltered it would hash to NULL and the when().otherwise(-1) below
    // would count it as a real -1 vote on all 32 bits, dragging every
    // doc's signature toward 0 and fabricating Hamming proximity
    val tokens = docTokens.filter(token.isNotNull)
    val h = portableHash32(token)
    val bitAggs = (0 until 32).map { j =>
      sum(when(shiftright(col("_h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$j")
    }
    val sums = tokens
      .withColumn("_id", id)
      .withColumn("_h", h)
      .groupBy(col("_id").as("id"))
      .agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until 32)
      .map(j => when(col(s"s_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("id"), sim.as("simhash"))
  }

  /** Connected components by alternating large-star / small-star rounds
    * (the published two-phase MapReduce CC method of Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the 100 TB shape:
    * O(log n) rounds regardless of component diameter, where min-label
    * propagation needs O(diameter) rounds.
    *
    * Edges are kept canonical (u < v). Per round:
    *  - large-star: every neighborhood hangs its strictly-larger members
    *    off its minimum (`m = min(Γ(a) ∪ a)`; emit (m, b) for b > a);
    *  - small-star: every node rewires its smaller neighbors (and itself)
    *    to the minimum of that down-set.
    * Each phase is one groupBy + one equi-join back; the fixpoint test is
    * a (count, hash-sum) signature — one tiny aggregate, no self-join.
    * Rounds are localCheckpoint-bounded so the plan never grows.
    *
    * Adaptive tail: near-dup graphs are a small fraction of the corpus
    * (LSH pairs, not the documents), so after canonicalization the edge
    * set is often broadcast-sized even when the corpus is not. Below
    * `localThreshold` edges the fixpoint runs as driver-side union-find —
    * one bounded collect replacing O(log n) cluster-wide shuffle rounds;
    * above it, the distributed loop runs unchanged. Both paths produce
    * identical (id, component=min id) labels.
    *
    * @param pairs (id_a, id_b) undirected edges
    * @return (id, component) where component = min id of the component
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 50,
      /** Driver-tail cutoff in edges. 250k long-pair edges collect to
        * ~tens of MB transient (broadcast scale); raise only with a
        * correspondingly sized driver. */
      localThreshold: Long = 250000,
  ): DataFrame = {
    // Pin the pair DAG once: the caller's candidate-pair plan (minhash /
    // LSH / posting-list joins) is the expensive part, and it would
    // otherwise re-execute for the node set, the edge canonicalization,
    // and every downstream read of the result.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val nodes = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id")))
      .distinct()

    def canonical(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val mins = sym.groupBy(col("a"))
        .agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      canonical(sym.join(mins, "a").filter(col("b") > col("a"))
        .select(col("m").as("u"), col("b").as("v")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges already point down: u < v — group the down-sets
      val mins = e.groupBy(col("v")).agg(min(col("u")).as("m"))
      val rewired = e.join(mins, "v")
        .select(col("m").as("u"), col("u").as("v"))
      val self = mins.select(col("m").as("u"), col("v"))
      canonical(rewired.union(self))
    }

    var edges = canonical(
      p.select(col("id_a").as("u"), col("id_b").as("v"))).localCheckpoint(true)

    // Materialized by the checkpoint — counting is a cached-block pass.
    // localComponents declines id types it has no Spark-ordering-matched
    // driver Ordering for; those fall through to the distributed loop,
    // which supports every orderable Spark type via least/greatest/min.
    if (edges.count() <= localThreshold) {
      localComponents(nodes, edges) match {
        case Some(out) => return out
        case None => ()
      }
    }

    def signature(e: DataFrame): (Long, Long) = {
      // count + xor-of-hashes: order-independent, ANSI-overflow-safe
      val r = e.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      // The signature is the cheap per-round probe; a 64-bit collision
      // between consecutive rounds must not fake convergence, so a
      // signature match is CONFIRMED by an exact set-difference emptiness
      // check (runs ~once per call: equal count + empty next\edges on
      // distinct edge sets => set equality).
      converged = nextSig == sig && next.exceptAll(edges).isEmpty
      edges = next
      sig = nextSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents hit maxIter=$maxIter before the fixpoint — " +
          "components would carry non-minimal labels; raise maxIter " +
          "(large-star/small-star needs O(log n) rounds)")

    // Converged edges are stars (component-min, member); roots and isolated
    // nodes label themselves.
    nodes
      .join(edges.select(col("v").as("id"), col("u").as("c")), Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("c"), col("id"))).as("component"))
  }

  /** Driver-side union-find tail for [[connectedComponents]]: the edge set
    * is bounded (<= localThreshold, a broadcast-scale collect), component
    * labels are the same min-id the distributed fixpoint produces. Returns
    * None for id types without a driver Ordering that provably matches
    * Spark's — the caller then uses the distributed loop (correct for any
    * orderable type) instead of risking a divergent label. */
  private def localComponents(nodes: DataFrame, edges: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val spark = edges.sparkSession
    val idType = edges.schema("u").dataType
    // Strings compare as UTF-8 BYTES, matching Spark's binary string
    // ordering — Scala's Ordering[String] (UTF-16 code units) disagrees
    // for supplementary-plane vs U+E000..U+FFFF chars, which would label
    // the same component differently on the two paths.
    val utf8Ord: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = {
        val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        while (i < x.length && i < y.length) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    }
    val ordOpt: Option[Ordering[Any]] = idType match {
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case StringType => Some(utf8Ord)
      case DoubleType => Some(Ordering.by((x: Any) => x.asInstanceOf[Double]))
      case _ => None
    }
    if (ordOpt.isEmpty) return None
    val ord = ordOpt.get

    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.select(col("u"), col("v")).collect().foreach { row =>
      val (ru, rv) = (find(row.get(0)), find(row.get(1)))
      if (ru != rv) parent(ord.max(ru, rv)) = ord.min(ru, rv)
    }
    // snapshot the keys BEFORE mapping: find() path-compresses into the
    // same map, and mutating a map while iterating its live key view is
    // undefined even when only existing values change
    val labels = parent.keys.toSeq.map(x => (x, find(x)))
    val rows = labels.map { case (id, c) => org.apache.spark.sql.Row(id, c) }
    val schema = StructType(Seq(
      StructField("id", idType), StructField("c", idType)))
    val labelDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    Some(nodes.join(broadcast(labelDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("component")))
  }

  /** End-to-end corpus dedup: keep one representative per near-dup
    * component; singletons keep themselves. Returns the surviving ids.
    * The representative is the min id among component members PRESENT in
    * `allIds` — so a caller whose `allIds` snapshot no longer contains a
    * component's global min (pairs computed over a pre-filter corpus)
    * still keeps one survivor instead of silently deleting the whole
    * component. */
  def dedupByPairs(allIds: DataFrame /* (id) */, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val present = allIds.join(comps, Seq("id"))
    val reps = present.groupBy(col("component")).agg(min(col("id")).as("_rep"))
    val losers = present.join(reps, Seq("component"))
      .filter(col("id") =!= col("_rep")).select(col("id"))
    allIds.join(losers, Seq("id"), "left_anti")
  }

  /** [[dedupByPairs]] with a QUALITY-best survivor policy: per near-dup
    * component, keep the member with the highest `quality` (id asc on
    * ties — deterministic), instead of the smallest id. This is the
    * production curation policy — when a boilerplate-laden page and its
    * clean mirror near-dup, the clean one should survive.
    *
    * `scored` must carry unique `id` plus the quality column. Returns the
    * surviving rows of `scored` (all columns), singletons included.
    *
    * Scale shape: one max_by aggregate per component + an anti join on
    * ids — same as the min-id policy; the quality column rides along the
    * existing component shuffle. */
  def dedupByPairsKeepBest(
      scored: DataFrame, // (id, ..., quality)
      pairs: DataFrame,
      quality: Column,
  ): DataFrame = {
    val comps = connectedComponents(pairs)
    val present = scored.select(col("id"), quality.as("_q")).join(comps, Seq("id"))
    // max_by over (quality desc, id asc): encode as a struct ordering —
    // null quality sorts last (struct comparison on the null flag first)
    val reps = present
      .groupBy(col("component"))
      .agg(min(struct(
        col("_q").isNull.as("qnull"), (-coalesce(col("_q"), lit(0.0))).as("negq"),
        col("id").as("id"))).getField("id").as("_rep"))
    val losers = present.join(reps, Seq("component"))
      .filter(col("id") =!= col("_rep")).select(col("id"))
    scored.join(losers, Seq("id"), "left_anti")
  }

  /** All ordered pairs (a < b) from a sorted id list — the posting-list
    * expansion that replaces an inverted-index self-join. */
  private def pairCombinations(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, size(ids)), b =>
        struct(a.as("a"), b.as("b")))))

  /** Exact n-gram Jaccard near-dup pairs via shingle-inverted-index join.
    * `maxShingleDf` drops shingles present in more than that many docs
    * before pairing (skew guard; identical filter applied on both sides of
    * the oracle keeps semantics aligned — per-doc shingle SIZES are
    * computed unfiltered, only the intersection join is capped). */
  def ngramJaccardPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int,
      threshold: Double,
      maxShingleDf: Int = 100,
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val shingled = docs
      .select(id.as("id"), explode(wordShingles(text, n)).as("shingle"))
      .distinct()
      // sizes AND the inverted index hang off this subtree: without the
      // pin each reference re-runs the corpus scan + shingle explode +
      // distinct shuffle (2 full passes instead of 1)
      .transform(graft.operators.Pin.lazyPin)
    val sizes = shingled.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))

    // Inverted index: one shuffle on shingle; the df cap (skew guard) and
    // pair expansion happen on the grouped posting lists.
    val inter = shingled
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      // collect_list, not collect_set: the (id, shingle) frame above is
      // DISTINCT by construction, so the set's per-row hash probe is pure
      // CPU overhead for the same ids (r14 optimization)
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxShingleDf)
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_common"))

    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric containment pairs — the subset-duplicate detector Jaccard
    * structurally misses: a tweet quoted inside an article shares ~100%
    * of ITS shingles but a tiny fraction of the union, so
    * `containment = n_common / min(|A|, |B|)` fires where
    * `jaccard = n_common / |A ∪ B|` stays low. The standard
    * quote/expansion/wrapper-page signal in corpus dedup.
    *
    * Same candidate generation as [[ngramJaccardPairs]] (df-capped
    * inverted index — one shuffle on the shingle, pairs expanded only on
    * capped posting lists, never an all-pairs join), same exact-integer
    * counters; the ratio is one IEEE division. The df cap bounds recall
    * the same way it does for Jaccard: a shingle shared by more than
    * `maxShingleDf` documents contributes no candidates (boilerplate by
    * definition).
    *
    * @return (contained_id, container_id, n_common, n_contained,
    *         n_container, containment) — contained = the side with fewer
    *         shingles (tie: lower id) — ordered by (contained_id,
    *         container_id) */
  def containmentPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int,
      threshold: Double,
      maxShingleDf: Int = 100,
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val shingled = docs
      .select(id.as("id"), explode(wordShingles(text, n)).as("shingle"))
      .distinct()
      // sizes AND the inverted index hang off this subtree: without the
      // pin each reference re-runs the corpus scan + shingle explode +
      // distinct shuffle (2 full passes instead of 1)
      .transform(graft.operators.Pin.lazyPin)
    val sizes = shingled.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
    val inter = shingled
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      // collect_list, not collect_set: the (id, shingle) frame above is
      // DISTINCT by construction, so the set's per-row hash probe is pure
      // CPU overhead for the same ids (r14 optimization)
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxShingleDf)
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val aIsContained = col("n_a") < col("n_b") ||
      (col("n_a") === col("n_b")) // pairCombinations already has id_a < id_b
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "n_b"), "id_b")
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(
        when(aIsContained, col("id_a")).otherwise(col("id_b")).as("contained_id"),
        when(aIsContained, col("id_b")).otherwise(col("id_a")).as("container_id"),
        col("n_common"),
        least(col("n_a"), col("n_b")).as("n_contained"),
        greatest(col("n_a"), col("n_b")).as("n_container"),
        col("containment"))
      .orderBy(col("contained_id"), col("container_id"))
  }

  /** Incremental (cross-batch) exact dedup: keep only the rows of `batch`
    * whose `batchFp` fingerprint does NOT appear in `seen` — the nightly
    * "dedupe the new crawl against the standing corpus" step. Result is
    * EXACT (identical to a plain left_anti join on the fingerprint); the
    * bloom filter is a prefilter only: rows whose fingerprint the bloom
    * rules out skip the anti-join entirely, so the shuffled side shrinks
    * from |batch| to |true dups| + |false positives| (fpp-bounded).
    *
    * Scale shape: the bloom is built with one pass over `seen` and
    * broadcast (bits ~ -n·ln(fpp)/ln²2: 1e8 keys at 1% ≈ 120 MB — the
    * practical driver/executor ceiling). Above `maxBloomItems` the
    * prefilter is skipped and the exact anti-join runs alone — correct at
    * any scale, just without the pruning. The two-branch union reads the
    * batch twice with broadcast-local predicates (persist the batch
    * upstream if its scan is expensive); only the candidate branch
    * shuffles, and NULL fingerprints pass through unmatched on both
    * branches (a null proves nothing about content equality — same rule
    * as [[exact]]).
    */
  def incrementalDedup(
      batch: DataFrame,
      batchFp: Column,
      seen: DataFrame,
      seenFp: Column,
      expectedSeen: Long,
      fpp: Double = 0.01,
      maxBloomItems: Long = 100000000L,
  ): DataFrame = {
    require(expectedSeen > 0, s"incrementalDedup: expectedSeen must be positive, got $expectedSeen")
    val bloom =
      if (expectedSeen > maxBloomItems) None
      else Some(seen.select(seenFp.cast("string").as("_seen_fp"))
        .stat.bloomFilter("_seen_fp", expectedSeen, fpp))
    incrementalDedupCore(batch, batchFp, seen, seenFp, bloom)
  }

  /** [[incrementalDedup]] with the bloom prefilter supplied PREBUILT
    * (round-14; PLANS.md "IncrementalChainBench" — rebuilding the bloom
    * from the fingerprint store every night is the one O(history) cost
    * in the dedup path, and it is pure artifact: build it once with
    * [[buildSeenBloom]], persist with [[saveBloom]], and the nightly job
    * pays only O(batch) + the store probe for bloom hits). The bloom
    * MUST have been built over exactly `seen`'s fingerprints — a stale
    * bloom (missing newly-appended fingerprints) breaks the prefilter
    * guarantee and rows duplicate silently; append-nights must
    * [[buildSeenBloom]] anew or putString the appended fingerprints
    * before saving. */
  def incrementalDedupWithBloom(
      batch: DataFrame,
      batchFp: Column,
      seen: DataFrame,
      seenFp: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter,
  ): DataFrame = incrementalDedupCore(batch, batchFp, seen, seenFp, Some(bloom))

  private def incrementalDedupCore(
      batch: DataFrame,
      batchFp: Column,
      seen: DataFrame,
      seenFp: Column,
      bloomOpt: Option[org.apache.spark.util.sketch.BloomFilter],
  ): DataFrame = {
    val seenKeys = seen.select(seenFp.cast("string").as("_seen_fp"))
    val tagged = batch.withColumn("_fp", batchFp.cast("string"))
    def antiJoin(df: DataFrame): DataFrame =
      df.join(seenKeys, col("_fp") === col("_seen_fp"), "left_anti")
    val out = bloomOpt match {
      case None => antiJoin(tagged)
      case Some(bloom) =>
        val bloomBc = batch.sparkSession.sparkContext.broadcast(bloom)
        val hit = udf((fp: String) => fp != null && bloomBc.value.mightContain(fp))
          .apply(col("_fp"))
        // bloom misses are definitely new and skip the shuffle; only
        // bloom hits (true dups + fpp false positives) reach the anti-join
        tagged.filter(col("_fp").isNull || !hit)
          .unionByName(antiJoin(tagged.filter(col("_fp").isNotNull && hit)))
    }
    out.drop("_fp")
  }

  /** Build the [[incrementalDedupWithBloom]] prefilter from the standing
    * corpus — one pass over `seen`, driver-merged. */
  def buildSeenBloom(
      seen: DataFrame, seenFp: Column, expectedSeen: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    require(expectedSeen > 0, s"buildSeenBloom: expectedSeen must be positive, got $expectedSeen")
    seen.select(seenFp.cast("string").as("_seen_fp")).stat.bloomFilter("_seen_fp", expectedSeen, fpp)
  }

  /** Persist/load the bloom artifact (compact: ~1.2 MB per 1M keys at
    * 1% fpp). Local-filesystem streams here; a cluster deployment swaps
    * in the Hadoop FileSystem API — the BloomFilter wire format
    * (writeTo/readFrom) is the same either way. */
  def saveBloom(bloom: org.apache.spark.util.sketch.BloomFilter, path: String): Unit = {
    val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    try bloom.writeTo(os) finally os.close()
  }

  def loadBloom(path: String): org.apache.spark.util.sketch.BloomFilter = {
    val is = new java.io.BufferedInputStream(new java.io.FileInputStream(path))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(is) finally is.close()
  }

  /** Incremental (cross-batch) NEAR-dup against a persisted MinHash
    * signature STORE: flag each new-batch document whose signature
    * near-matches ANY standing-corpus document — the nightly "near-dedupe
    * the new crawl against yesterday's corpus" step, run WITHOUT
    * re-reading (or re-shingling) the standing corpus: only its
    * k-integer-per-doc signatures persist, a small fraction of corpus
    * bytes at 100 TB (write them once per ingest with [[minHashSignature]]
    * and keep them bucketed on id).
    *
    * Scale shape: band keys on both sides, candidates from ONE
    * cross-frame equi-join on (band, bh) — never batch x corpus — then a
    * signature-verify join and one max-per-batch-id aggregation.
    * Batch-INTERNAL near-dups are out of scope by design (run
    * [[minHashLshPairs]] within the batch for those): keeping the two
    * concerns separate means the store join never degrades into the
    * self-join's skew profile. [[graft.operators.Curation.fuzzyDecontaminate]]
    * is this operator plus text-side shingling, via delegation.
    *
    * @return one row per batch id: (id, max_seen_jaccard, near_dup) */
  def incrementalNearDup(
      batchSignatures: DataFrame, // (id, mh_0..mh_{k-1})
      seenSignatures: DataFrame, // (id, mh_0..mh_{k-1})
      numBands: Int,
      rowsPerBand: Int,
      threshold: Double,
  ): DataFrame = {
    // the band keys are derived from the store on the fly; a nightly job
    // should persist them once and use [[incrementalNearDupPrebanded]]
    // (round-14: re-banding a 1M-doc store was ~half the incremental
    // path's CPU; PLANS.md "IncrementalChainBench")
    val sn = seenSignatures.transform(graft.operators.Pin.lazyPin)
    incrementalNearDupPrebanded(batchSignatures,
      bandKeys(sn, numBands, rowsPerBand), sn, numBands, rowsPerBand, threshold)
  }

  /** [[incrementalNearDup]] with the standing corpus's band keys
    * supplied PREBUILT — the production shape: the signature store
    * persists BOTH the (id, mh_*) signatures and their (id, band, bh)
    * band keys, so the nightly probe shingles/hashes only the batch;
    * the store contributes a band-key equi-join (no re-banding) and a
    * candidate-bounded signature lookup for the verify step. */
  def incrementalNearDupPrebanded(
      batchSignatures: DataFrame, // (id, mh_0..mh_{k-1})
      seenBandKeys: DataFrame, // (id, band, bh) — persisted store bands
      seenSignatures: DataFrame, // (id, mh_0..mh_{k-1}) — for verification
      numBands: Int,
      rowsPerBand: Int,
      threshold: Double,
  ): DataFrame = {
    def width(df: DataFrame) = df.columns.count(_.startsWith("mh_"))
    val k = numBands * rowsPerBand
    require(width(batchSignatures) == width(seenSignatures),
      s"incrementalNearDup: signature widths differ (${width(batchSignatures)} vs " +
        s"${width(seenSignatures)}) — the store was built with different numHashes")
    require(numBands >= 1 && rowsPerBand >= 1 && k == width(batchSignatures),
      s"incrementalNearDup: numBands ($numBands) x rowsPerBand ($rowsPerBand) must tile " +
        s"the signature width (${width(batchSignatures)})")
    // each side feeds two reads (band keys + verification array): lazy
    // localCheckpoint pins each signature aggregation once, the
    // minHashLshPairs contract
    val b = batchSignatures.transform(graft.operators.Pin.lazyPin)
    val sn = seenSignatures
    val sigArr = array((0 until k).map(i => col(s"mh_$i")): _*)
    val cand = bandKeys(b, numBands, rowsPerBand)
      .join(seenBandKeys.withColumnRenamed("id", "seen_id"),
        Seq("band", "bh"))
      .select(col("id"), col("seen_id")).distinct()
    val verified = cand
      .join(b.select(col("id"), sigArr.as("sig_a")), "id")
      .join(sn.select(col("id").as("seen_id"), sigArr.as("sig_b")), "seen_id")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), k))
      .groupBy(col("id"))
      .agg(max(col("est_jaccard")).as("max_seen_jaccard"))
    b.select(col("id"))
      .join(verified, Seq("id"), "left")
      .select(col("id"), coalesce(col("max_seen_jaccard"), lit(0.0)).as("max_seen_jaccard"))
      .withColumn("near_dup", col("max_seen_jaccard") >= threshold)
  }

  /** Exact duplicate-span detection at token granularity (the
    * substring-level dedup signal from "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022 — re-expressed for Spark:
    * instead of a corpus-wide suffix array, every k-token window is
    * hashed, windows whose hash occurs >= 2 times corpus-wide (within- or
    * cross-document) mark their token range duplicated, and per document
    * the overlapping-or-adjacent duplicated ranges merge into maximal
    * spans).
    *
    * Returns one row per maximal duplicated span:
    * `(id, span_start, span_end, span_tokens, n_windows)` with token
    * indexes 0-based inclusive.
    *
    * Scale shape: strictly linear in corpus tokens — no pair join ever
    * forms. One shuffle partitions the exploded k-gram stream by gram
    * hash (the corpus-frequency count is a window aggregate over that
    * partitioning, not a groupBy + re-join, so the stream is shuffled
    * once); the surviving duplicated windows — typically a small fraction
    * — re-shuffle by document for the island merge. Hot grams (boilerplate
    * headers shared by millions of docs) cost one skewed count partition
    * but never a pair expansion. */
  def duplicateSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int,
      /** xxhash64 (default since r15) keys the gram shuffle on an 8-byte
        * long instead of md5's 32-char string — the dominant shuffle's
        * payload shrinks ~4x and the per-window md5 cost disappears. The
        * gram hash never reaches the output, so results differ from the
        * md5 key space only on a hash-collision differential: zero
        * collisions verified on the realized gram sets at every test SF
        * (distinct grams == distinct hashes), ~n²/2⁶⁴ expected false
        * window-matches corpus-wide beyond that. true restores the
        * engine-portable md5 key. */
      portableHash: Boolean = false,
  ): DataFrame = {
    require(k >= 1, s"duplicateSpans: window size k must be >= 1, got $k")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val toks = tokens(text)
    val gram: Column => Column = if (portableHash) md5 else xxhash64(_)
    val grams = docs
      .select(id.as("id"), toks.as("_t"))
      .filter(size(col("_t")) >= k)
      .select(col("id"),
        // native window generator (r14; gram hash applied codegen-side
        // on the exploded column — same hash count, no interpreted
        // per-window transform/slice/concat_ws dispatch)
        posexplode(graft.functions.WordGramsExpr.gramsCol(col("_t"), k)))
      .select(col("id"), col("pos").as("start"), gram(col("col")).as("gh"))
    // Corpus-wide occurrence count as a window over the gram-hash
    // partitioning: one shuffle, no self-join back.
    val dup = grams
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("_n") >= 2)
      .select(col("id"), col("start"))
    // Gaps-and-islands: same-width intervals [start, start+k-1] sorted by
    // start merge while start <= prev_start + k (overlap or adjacency).
    val byDoc = Window.partitionBy(col("id")).orderBy(col("start"))
    dup
      .withColumn("_new",
        when(lag(col("start"), 1).over(byDoc).isNull
          || col("start") > lag(col("start"), 1).over(byDoc) + k, 1).otherwise(0))
      .withColumn("_span",
        sum(col("_new")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("_span"))
      .agg(
        min(col("start")).as("span_start"),
        (max(col("start")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"), col("n_windows"))
  }

  /** Global CROSS-DOCUMENT exact-substring dedup — the Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr) primitive, re-expressed distributed: every maximal
    * per-document token span whose k-token windows ALL occur in at least
    * one OTHER document, clustered by exact span content so a survivor
    * policy can keep one occurrence per duplicated substring and excise
    * the rest.
    *
    * The union of duplicated substrings of length >= k equals the union
    * of duplicated k-grams (every length->=k duplicate is a chain of
    * duplicated k-windows; every duplicated k-window is itself a
    * length-k duplicate), so the suffix-array pass of the reference
    * implementation is equivalently a k-gram multiplicity scan + island
    * merge — which distributes, while a global suffix array does not.
    *
    * Cluster semantics: `cluster` = md5 of the span's exact token text.
    * Identical boilerplate across documents lands in one cluster
    * (n_occ = its occurrence count, `keep` = true on the first
    * occurrence by (id, span_start) — the canonical survivor); a span
    * whose windows matched DIFFERENT partner documents (a mosaic of
    * shared k-grams with no single verbatim twin) is its own singleton
    * cluster (n_occ = 1, keep = true) — still honest removal input,
    * since every k-window inside it is duplicated somewhere.
    *
    * Scale shape (100 TB): one gram-hash shuffle with O(1) window state
    * (cross-doc duplication is min(id) < max(id) over the gram
    * partition — never a countDistinct expand, and a boilerplate gram
    * shared by millions of docs costs one skewed min/max partition but
    * NEVER a pair expansion), one doc-keyed island merge, one equi-join
    * back to the pinned token arrays for the span slice, one
    * cluster-hash window. No stage is quadratic in corpus size or in
    * duplication multiplicity.
    *
    * @return (id, span_start, span_end, span_tokens, n_windows,
    *         cluster, n_occ, keep) — token offsets 0-based inclusive,
    *         one row per maximal span. */
  def substringDedup(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int,
      /** xxhash64 (default since r15) keys the GRAM shuffle on an 8-byte
        * long instead of md5's 32-char string, shrinking the dominant
        * gram shuffle ~4x (same trade and same zero-collision audit as
        * [[duplicateSpans]]; the span CLUSTER hash — which IS in the
        * output — stays md5-of-text either way). true restores the
        * engine-portable md5 gram key. */
      portableHash: Boolean = false): DataFrame = {
    require(k >= 1, s"substringDedup: window size k must be >= 1, got $k")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val gram: Column => Column = if (portableHash) md5 else xxhash64(_)
    // token arrays feed the gram scan AND the span-text slice join: pin
    // once or the corpus re-tokenizes per read
    val tk = docs
      .select(id.as("id"), tokens(text).as("_t"))
      .filter(size(col("_t")) >= k)
      .transform(graft.operators.Pin.lazyPin)
    val grams = tk
      .select(col("id"),
        // native window generator (r14) — see duplicateSpans
        posexplode(graft.functions.WordGramsExpr.gramsCol(col("_t"), k)))
      .select(col("id"), col("pos").as("start"), gram(col("col")).as("gh"))
    val byGram = Window.partitionBy(col("gh"))
    val dup = grams
      .withColumn("_mn", min(col("id")).over(byGram))
      .withColumn("_mx", max(col("id")).over(byGram))
      .filter(col("_mn") < col("_mx")) // >= 2 DISTINCT docs, O(1) state
      .select(col("id"), col("start"))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("start"))
    val spans = dup
      .withColumn("_new",
        when(lag(col("start"), 1).over(byDoc).isNull
          || col("start") > lag(col("start"), 1).over(byDoc) + k, 1).otherwise(0))
      .withColumn("_span",
        sum(col("_new")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("_span"))
      .agg(
        min(col("start")).as("span_start"),
        (max(col("start")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
    val byCluster = Window.partitionBy(col("cluster"))
    spans
      .join(tk, Seq("id"))
      .withColumn("cluster",
        md5(concat_ws(" ", slice(col("_t"), col("span_start") + lit(1),
          col("span_end") - col("span_start") + lit(1)))))
      .drop("_t")
      .withColumn("n_occ", count(lit(1)).over(byCluster))
      .withColumn("keep",
        row_number().over(byCluster.orderBy(col("id"), col("span_start"))) === 1)
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"), col("cluster"), col("n_occ"), col("keep"))
  }

  /** Edit-distance VERIFICATION of candidate pairs — the character-level
    * second opinion on a shingle-based candidate set: Jaccard on 3-gram
    * sets is blind to token order and to heavy small edits, Levenshtein
    * is not. Runs the exact DP only on the (LSH-sized) candidate list,
    * never all pairs; similarity = (max_len − dist) / max_len in BIGINT
    * nanos (two identical empty texts are similarity 1).
    *
    * Scale: two id-keyed equi-joins to fetch the texts, then a per-row
    * kernel. Levenshtein is O(|a|·|b|) per pair — at book-length texts
    * band or truncate upstream; candidate verification on web-document
    * lengths is the intended regime.
    *
    * Join contract (ADVICE r11): the text fetches are INNER joins — a
    * candidate pair whose id is absent from `docs` is dropped from the
    * output, indistinguishable from "verified not similar". That is the
    * intended semantics when `pairs` was derived from the same `docs`
    * relation (every engine query does this); callers verifying a STALE
    * candidate list against a shrunk corpus should anti-join
    * `pairs` against `docs` first and handle the misses explicitly
    * rather than letting them vanish here.
    *
    * @return (id_a, id_b, edit_dist, max_len, sim_n9) for pairs with
    *         sim_n9 >= threshold, ordered. */
  def editVerifiedPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      pairs: DataFrame, // (id_a, id_b)
      simN9Threshold: Long): DataFrame = {
    require(simN9Threshold >= 0L && simN9Threshold <= 1000000000L,
      s"editVerifiedPairs: simN9Threshold must be in [0, 1e9], got $simN9Threshold")
    val d = docs.select(id.as("_id"), text.as("_t"))
    pairs
      .select(col("id_a"), col("id_b"))
      .join(d.select(col("_id").as("id_a"), col("_t").as("_ta")), Seq("id_a"))
      .join(d.select(col("_id").as("id_b"), col("_t").as("_tb")), Seq("id_b"))
      .withColumn("edit_dist", levenshtein(col("_ta"), col("_tb")).cast("long"))
      .withColumn("max_len",
        greatest(length(col("_ta")), length(col("_tb"))).cast("long"))
      .withColumn("sim_n9",
        when(col("max_len") > 0L,
          expr("((max_len - edit_dist) * 1000000000L) div max_len"))
          .otherwise(lit(1000000000L)))
      .filter(col("sim_n9") >= lit(simN9Threshold))
      .select(col("id_a"), col("id_b"), col("edit_dist"), col("max_len"), col("sim_n9"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family, Xiao et al. WWW'08): emits every unordered pair whose
    * n-gram-shingle-set Jaccard is >= tNum/tDen, with exact intersection
    * and union counts — no df cap, no sketch, no missed pair. The
    * complement to [[ngramJaccardPairs]] (whose df cap trades recall on
    * pathological shingles for a bounded candidate count).
    *
    * Candidate generation is the prefix-filter theorem: order the shingle
    * vocabulary globally by (document frequency asc, shingle asc) —
    * rarest first — and cut each document's sorted set to its first
    * |S| - ceil(t·|S|) + 1 shingles. Any pair with Jaccard >= t must
    * share at least one PREFIX shingle, so an equi-join on prefix
    * shingles finds every qualifying pair; a symmetric length filter
    * (t·max(|A|,|B|) <= min(|A|,|B|), a Jaccard necessary condition)
    * prunes size-incompatible candidates before verification.
    *
    * Scale shape: one shuffle keyed by shingle (the df count — reusing
    * the exchange for the df join), one keyed by doc id (per-doc sort +
    * prefix cut), and the candidate equi-join keyed by prefix shingle —
    * the quadratic pair space is never materialized. Verification joins
    * only candidate ids back to the doc→shingle-array table and
    * intersects two already-distinct arrays. Rarest-first ordering makes
    * prefix shingles the LOWEST-df keys in the corpus, so the candidate
    * join is naturally skew-free (the stop-shingle that every document
    * shares sits at the END of the order and never enters a prefix
    * unless t is very low). The threshold decision is exact integer
    * arithmetic on the tNum/tDen rational: no float is involved.
    *
    * @return (id_a, id_b, n_common, n_union, jacc_n9) with id_a < id_b;
    *         jacc_n9 = (n_common·1e9) div n_union, a truncated BIGINT
    *         fixed-point share (never DECIMAL — the driver-gate rule). */
  def prefixJaccardPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int,
      tNum: Int,
      tDen: Int,
  ): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, s"threshold must be in (0,1]: $tNum/$tDen")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // wordShingles is already per-document distinct. The string shingle
    // never leaves the doc row: all shuffle/join KEYS are its xxhash64
    // (8 bytes vs ~20-byte 3-gram strings). A 64-bit collision can only
    // merge two shingles' df counts and mis-sort the rarest-first order
    // — both harmless: the prefix-filter theorem holds under ANY
    // consistent global total order, and (df-of-hash, hash) is one.
    // Verification below intersects the TRUE string arrays, so the
    // emitted pairs and counts stay exact. Pinned: sets and the df
    // count both hang off this subtree (one corpus scan, not two).
    val shingled = docs
      .select(id.as("id"), explode(wordShingles(text, n)).as("shingle"))
      .withColumn("_h", xxhash64(col("shingle")))
      .transform(graft.operators.Pin.lazyPin)
    val dfCounts = shingled.groupBy(col("_h")).agg(count(lit(1)).as("_df"))
    // Per-doc set sorted rarest-first under the global (df, hash) total
    // order (shingle string rides along for exact verification); the
    // prefix cut is ceil-exact integer arithmetic.
    val docsets = shingled
      .join(dfCounts, "_h")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("_df"), col("_h"), col("shingle")))).as("_ord"))
      .select(
        col("id"),
        transform(col("_ord"), x => x.getField("shingle")).as("sh"),
        transform(col("_ord"), x => x.getField("_h")).as("_hs"),
        size(col("_ord")).cast("long").as("n_sh"))
      .withColumn("_plen",
        expr(s"n_sh - ((n_sh * $tNum + ${tDen - 1}) div $tDen) + 1"))
      // Four consumers hang off this subtree (both prefix sides, both
      // verification sides): without the pin each re-runs the df join +
      // per-doc sort — 4 corpus passes instead of 1.
      .transform(graft.operators.Pin.lazyPin)
    val prefixes = docsets
      .select(col("id"), col("n_sh"),
        explode(slice(col("_hs"), lit(1), col("_plen").cast("int"))).as("_h"))
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a._h") === col("b._h") && col("a.id") < col("b.id"))
      .filter( // length filter: t * max <= min, in exact integers
        greatest(col("a.n_sh"), col("b.n_sh")) * lit(tNum.toLong)
          <= least(col("a.n_sh"), col("b.n_sh")) * lit(tDen.toLong))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = docsets.select(col("id"), col("sh"), col("n_sh"))
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("_sa"), col("n_sh").as("_na")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("_sb"), col("n_sh").as("_nb")), "id_b")
      .withColumn("n_common", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("n_union", col("_na") + col("_nb") - col("n_common"))
      .filter(col("n_common") * lit(tDen.toLong) >= col("n_union") * lit(tNum.toLong))
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_union"),
        expr("(n_common * 1000000000L) div n_union").as("jacc_n9"))
  }

  /** k-nearest-neighbour documents by EXACT n-gram Jaccard: for every
    * document, its top-k most-similar others above a floor similarity —
    * the "show me this document's family" primitive behind manual dedup
    * review and cluster seeding. Composes [[prefixJaccardPairs]] (the
    * floor keeps the candidate space subquadratic; lower floors trade
    * prefix-prune selectivity for recall depth), symmetrizes the
    * unordered pairs, and cuts each document's neighbour list with a
    * deterministic (jacc_n9 DESC, nbr ASC) rank.
    *
    * Scale: the per-document window is keyed by doc id — ranking is
    * parallel across documents, and Spark's WindowGroupLimit rewrite
    * cuts each id's candidates to k map-side before the window
    * exchange. No stage sees more than the floored pair set.
    *
    * @return (doc_id, nbr, jacc_n9, rk) with rk in 1..k. */
  def knnSimilarDocs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int,
      k: Int,
      floorNum: Int,
      floorDen: Int,
  ): DataFrame = {
    require(k >= 1, s"knnSimilarDocs: k must be >= 1, got $k")
    val pairs = prefixJaccardPairs(docs, id, text, n, floorNum, floorDen)
    val sym = pairs.select(col("id_a").as("doc_id"), col("id_b").as("nbr"), col("jacc_n9"))
      .unionByName(
        pairs.select(col("id_b").as("doc_id"), col("id_a").as("nbr"), col("jacc_n9")))
    sym
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("jacc_n9").desc, col("nbr")))
        .cast("long")) // BIGINT like every engine's row_number
      .filter(col("rk") <= k)
  }

  /** TF-IDF-weighted cosine near-dup pairs over word-shingle vectors —
    * the WEIGHTED complement of the set-overlap family
    * ([[prefixJaccardPairs]] treats every shingle equally; here a rare
    * shared shingle counts for more than a common one, the classic
    * VSM / SpotSigs shape). Exact, not approximate: candidates come
    * from a df-capped posting join (a pair is a candidate iff it shares
    * at least one shingle with df <= maxDf — fan-out bounded at
    * C(maxDf, 2) per shingle, the prefix-filter discipline), and the
    * cosine is then computed over the FULL weighted vectors.
    *
    * Determinism: idf ships `round(ln((N+1)/(df+1)), 6)` on both
    * engines (the pmi 6-dp transcendental contract); weights, norms,
    * dot products, and the final cosine are fixed-association IEEE over
    * those — norms and dots fold in SHINGLE-SORTED order (`aggregate`
    * over the sorted collect, the oracle's
    * `list_reduce(list_prepend(0.0, array_agg(.. ORDER BY ..)))`).
    *
    * @return (id_a, id_b, n_shared, cosine) with id_a < id_b,
    *         cosine >= threshold, ordered */
  def tfidfNearDupPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      shingleN: Int,
      threshold: Double,
      maxDf: Int): DataFrame =
    tfidfNearDupFromStats(tfidfStats(docs, id, text, shingleN), threshold, maxDf)

  /** The persistable stats half of [[tfidfNearDupPairs]] (round-13, the
    * r12 corpus-bench note): one corpus pass builds the df/idf-weighted
    * posting table and the per-doc norms — the two heavy corpus-wide
    * folds — as plain DataFrames a production pipeline writes ONCE
    * beside the corpus ([[TfidfModel.save]]) and every subsequent
    * near-dup query, threshold sweep, or incremental batch reloads
    * instead of re-folding. Both frames are localCheckpoint-pinned so an
    * in-session multi-query consumer also pays the pass once. */
  def tfidfStats(
      docs: DataFrame,
      id: Column,
      text: Column,
      shingleN: Int): TfidfModel = {
    require(shingleN >= 1, s"tfidfStats: shingleN must be >= 1, got $shingleN")
    val base = docs.select(id.as("id"),
      explode(wordShingles(text, shingleN)).as("sh"))
    // wordShingles is DISTINCT per doc -> tf is 1; keep the count agg so
    // the contract survives a non-distinct generator swap
    val tf = base.groupBy(col("id"), col("sh")).agg(count(lit(1)).as("tf"))
      .transform(graft.operators.Pin.lazyPin) // df, norms, candidates, and both pair sides read it
    val nDocs = docs.select(id.as("id")).distinct().count()
    val dfreq = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val weighted = tf.join(dfreq, Seq("sh"))
      .withColumn("idf",
        round(log(lit((nDocs + 1L).toDouble) / (col("df") + lit(1L)).cast("double")), 6))
      .withColumn("w", col("tf").cast("double") * col("idf"))
      .transform(graft.operators.Pin.lazyPin)
    val norms = weighted.groupBy(col("id"))
      .agg(sqrt(aggregate(
        transform(array_sort(collect_list(struct(col("sh"), col("w")))),
          x => x.getField("w") * x.getField("w")),
        lit(0.0), (acc, x) => acc + x)).as("nrm"))
      .transform(graft.operators.Pin.lazyPin)
    TfidfModel(weighted.select(col("id"), col("sh"), col("df"), col("w")), norms)
  }

  /** The pair half of [[tfidfNearDupPairs]]: df-capped candidate join +
    * exact full-vector cosine, consuming a [[TfidfModel]] (fresh-built or
    * parquet-reloaded — bit-identical either way: weights and norms are
    * stored values, and the pair dot still folds in shingle-sorted
    * order). Threshold and df-cap are pair-step knobs, so a sweep never
    * re-pays the stats pass. */
  def tfidfNearDupFromStats(
      model: TfidfModel,
      threshold: Double,
      maxDf: Int): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"tfidfNearDupFromStats: threshold must be in (0, 1], got $threshold")
    require(maxDf >= 2, s"tfidfNearDupFromStats: maxDf must be >= 2, got $maxDf")
    val weighted = model.weighted
    val norms = model.norms
    val rare = weighted.filter(col("df") <= maxDf).select(col("sh"), col("id"))
    val cand = rare.as("a").join(rare.as("b"), Seq("sh"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val prods = cand
      .join(weighted.select(col("id").as("id_a"), col("sh"), col("w").as("wa")), Seq("id_a"))
      .join(weighted.select(col("id").as("id_b"), col("sh"), col("w").as("wb")),
        Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        aggregate(
          transform(array_sort(collect_list(struct(col("sh"), (col("wa") * col("wb")).as("p")))),
            x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x).as("dot"))
    prods
      .join(norms.select(col("id").as("id_a"), col("nrm").as("na")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cosine",
        when(col("na") * col("nb") > 0.0, col("dot") / (col("na") * col("nb"))))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }
}

/** Persisted TF-IDF corpus statistics (round-13): `weighted` is the
  * posting table (id, sh, df, w) — one row per (document, shingle) with
  * its document frequency and 6-dp-idf weight; `norms` is the per-doc
  * L2 norm (id, nrm). Together they are everything
  * [[Dedup.tfidfNearDupFromStats]] needs: build once with
  * [[Dedup.tfidfStats]], [[TfidfModel.save]] beside the corpus, reload
  * with [[TfidfModel.load]] for every later pair query — the production
  * shape at 100 TB, where the stats pass dwarfs any single pair query. */
final case class TfidfModel(weighted: DataFrame, norms: DataFrame) {
  def save(dir: String): Unit = {
    // r15 measured-and-rejected (guide §6): an AQE `rebalance` hint per
    // write (data-adaptive file sizing) was A/B-tested to cut the 32
    // near-empty task commits — the added pre-write exchange cost MORE
    // than the commits it saved at every bench scale (dd_tfidf_reload
    // 1.51->1.82 s, pipeline_artifact_serve 2.59->3.45 s), and at corpus
    // scale the posting table's data-derived partitioning already writes
    // well-sized files. Kept as the plain inherited-partitioning write.
    weighted.write.mode("overwrite").parquet(s"$dir/weighted.parquet")
    norms.write.mode("overwrite").parquet(s"$dir/norms.parquet")
  }
}

object TfidfModel {
  def load(spark: SparkSession, dir: String): TfidfModel = TfidfModel(
    spark.read.parquet(s"$dir/weighted.parquet"),
    spark.read.parquet(s"$dir/norms.parquet"))
}

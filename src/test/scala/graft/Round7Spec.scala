package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, Search, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 additions: duplicate-span detection, BM25 retrieval, semantic
  * dedup, plus direct kernels for previously query-only coverage rows
  * (token estimate, fingerprints, embedding near-dup pairs). */
class Round7Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("duplicate spans: cross-doc shared prefix merges into one maximal span") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e x y z"), // shares 3-gram windows 0,1,2 with doc 1
      (3L, "q w e r t y u"),   // no duplicated window
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), k = 3)
      .orderBy(col("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Int]("span_tokens"), r.getAs[Long]("n_windows")))
    // windows 0,1,2 cover tokens [0,4] in both docs; doc 3 is absent
    assert(out.toSeq == Seq((1L, 0, 4, 5, 3L), (2L, 0, 4, 5, 3L)))
  }

  test("duplicate spans: within-doc repetition counts and adjacent ranges merge") {
    val docs = Seq((7L, "m n o p m n o p")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), k = 3)
      .collect().map(r => (r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
    // duplicated starts {0,1,4,5}: [0,3] and [4,7] are adjacent -> one span
    assert(out.toSeq == Seq((0, 7)))
    // separated repeats stay two spans
    val far = Seq((8L, "m n o x1 x2 x3 x4 x5 x6 x7 m n o")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(far, col("doc_id"), col("text"), k = 3)
      .orderBy(col("span_start"))
      .collect().map(r => (r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
    assert(spans.toSeq == Seq((0, 2), (10, 12)))
  }

  test("duplicate spans: xxhash64 production path finds the same spans as md5") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e x y z"),
      (3L, "m n o p m n o p"), (4L, "u v w x y z q r"),
    ).toDF("doc_id", "text")
    def spans(portable: Boolean) =
      Dedup.duplicateSpans(docs, col("doc_id"), col("text"), k = 3, portableHash = portable)
        .orderBy(col("id"), col("span_start")).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
        .toSeq
    assert(spans(portable = true) == spans(portable = false))
  }

  test("duplicate spans: short and empty docs contribute nothing") {
    val docs = Seq((1L, "a b"), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    // both docs are below the window size: no windows, no spans (and no crash)
    assert(Dedup.duplicateSpans(docs, col("doc_id"), col("text"), k = 3).count() == 0)
  }

  test("bm25: scores match the closed-form formula; non-matching docs absent") {
    val docs = Seq(
      (1L, "spark spark fast"),
      (2L, "spark slow"),
      (3L, "other words here"),
    ).toDF("doc_id", "text")
    val out = Search.bm25TopK(docs, col("doc_id"), col("text"), Seq("spark"), k = 10)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"),
        r.getAs[Long]("n_matched")))
    val avgdl = 8.0 / 3.0
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / 2.5)
    def tfp(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      (1L, r6(idf * tfp(2, 3)), 1L),
      (2L, r6(idf * tfp(1, 2)), 1L)))
  }

  test("bm25: multi-term queries sum per-term scores and count matched terms") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha alpha"),
      (3L, "beta delta"),
    ).toDF("doc_id", "text")
    val out = Search.bm25TopK(docs, col("doc_id"), col("text"),
      Seq("Alpha", "beta", "beta", ""), k = 2) // case-folded, deduped, blanks dropped
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_matched")))
    assert(out.length == 2 && out.forall(_._2 >= 1))
    val one = Search.bm25TopK(docs, col("doc_id"), col("text"), Seq("alpha", "beta"), k = 10)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_matched")).toMap
    assert(one == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("semantic dedup: duplicate group keeps min id with group size; singletons size 1") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, Seq(0.0, 1.0, 0.0, 0.0)),
    ).toDF("id", "vec")
    val out = Similarity.semanticDedup(vecs, threshold = 0.95, nBits = 2, dim = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("sem_group_size")).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L))
  }

  test("embedding near-dup pairs: identical vectors pair at cosine 1.0") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)),
    ).toDF("id", "vec")
    val pairs = Similarity.embeddingNearDupPairs(vecs, threshold = 0.99, nBits = 2, dim = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine")))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("remove duplicate spans: excises covered tokens, passes clean docs untouched") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e x y z"),
      (3L, "q  w   e r t y u"), // no dup span: original spacing preserved
    ).toDF("doc_id", "text")
    val out = graft.operators.Curation
      .removeDuplicateSpans(docs, col("doc_id"), col("text"), k = 3)
      .orderBy(col("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed_tokens")))
    // tokens [0,4] are duplicated in docs 1 and 2; doc 3 keeps raw text
    assert(out.toSeq == Seq(
      (1L, "f g h", 5L), (2L, "x y z", 5L), (3L, "q  w   e r t y u", 0L)))
    // fully-duplicated docs come back as empty strings, not vanish
    val twin = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val res = graft.operators.Curation
      .removeDuplicateSpans(twin, col("doc_id"), col("text"), k = 3)
      .orderBy(col("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("clean_text")))
    assert(res.toSeq == Seq((1L, ""), (2L, "")))
  }

  test("hash split: deterministic, exhaustive, fractions honored within tolerance") {
    val ids = (0L until 2000L).toDF("id")
    val out = graft.operators.Curation
      .hashSplit(ids, col("id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000)
    assert(math.abs(counts("train") - 1600.0) < 100, counts)
    assert(math.abs(counts("val") - 200.0) < 60, counts)
    // repartitioning does not change any row's assignment
    val a = out.orderBy(col("id")).collect().map(_.getString(1)).toSeq
    val b = graft.operators.Curation
      .hashSplit(ids.repartition(13), col("id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy(col("id")).collect().map(_.getString(1)).toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      graft.operators.Curation.hashSplit(ids, col("id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  // Round-12 composed-chain finding (PLANS.md "ChainBench discovery"):
  // sourceQuota admits in md5(id) priority order and the seedless
  // hashSplit draw is a PREFIX of the same md5 —
  // splitting a hash-order-subsampled set is catastrophically biased
  // (every admitted row lands in the head split). The seed decorrelates.
  test("hash split after hash-ordered subsampling: seedless is biased, seed fixes it") {
    val ids = (0L until 4000L).toDF("id")
    // the sourceQuota admission shape: keep the half with SMALLEST md5
    val admitted = ids
      .withColumn("_pri", md5(col("id").cast("string")))
      .orderBy(col("_pri")).limit(2000).drop("_pri")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val seedless = graft.operators.Curation.hashSplit(admitted, col("id"), splits)
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seedless == Map("train" -> 2000L), // the hazard, pinned
      s"expected total head-split collapse, got $seedless")
    val seeded = graft.operators.Curation.hashSplit(admitted, col("id"), splits, seed = "s1")
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seeded.values.sum == 2000)
    assert(math.abs(seeded("train") - 1600.0) < 120, seeded)
    assert(seeded.contains("val") && seeded.contains("test"), seeded)
    // empty seed is bit-identical to the historical seedless assignment
    val a = graft.operators.Curation.hashSplit(ids, col("id"), splits)
      .orderBy(col("id")).collect().map(_.getString(1)).toSeq
    val b = graft.operators.Curation.hashSplit(ids, col("id"), splits, seed = "")
      .orderBy(col("id")).collect().map(_.getString(1)).toSeq
    assert(a == b)
  }

  test("keep-best dedup: highest quality survives, id breaks ties, null quality loses") {
    val scored = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0),       // component {1,2,3}
      (4L, 0.1),                              // singleton
      (5L, Double.NaN), (6L, 1.0),            // component {5,6}
    ).toDF("id", "q").withColumn("q", when(col("id") === 5, lit(null)).otherwise(col("q")))
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByPairsKeepBest(scored, pairs, col("q"))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(kept == Set(2L, 4L, 6L))
  }

  test("vocabulary: top-k terms by count with lexicographic tie-break") {
    val docs = Seq((1L, "b a a C c"), (2L, "a c")).toDF("doc_id", "text")
    val out = graft.operators.Search.vocabulary(docs, col("text"), topK = 2)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n")))
    assert(out.toSeq == Seq(("a", 3L), ("c", 3L)))
  }

  test("rrf fusion: hand-computed scores, one-sided docs, deterministic tie-break") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val out = graft.operators.Search.rrfFuse(a, b, "id", "rank", k = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // 20: 1/62 + 1/61 (both); 10: 1/61; 40: 1/62; 30: 1/63
    assert(out == Seq(
      (20L, 1.0 / 62 + 1.0 / 61),
      (10L, 1.0 / 61 + 0.0),
      (40L, 1.0 / 62 + 0.0),
      (30L, 1.0 / 63 + 0.0)))
    // equal contributions tie-break on id: ranks symmetric across lists
    val t1 = Seq((2L, 1)).toDF("id", "rank")
    val t2 = Seq((1L, 1)).toDF("id", "rank")
    val tied = graft.operators.Search.rrfFuse(t1, t2, "id", "rank")
      .collect().map(_.getLong(0)).toSeq
    assert(tied == Seq(1L, 2L))
  }

  test("oov rate: per-doc fraction outside the vocab; empty docs keep a NULL-rate row") {
    val docs = Seq((1L, "a b zz"), (2L, "a a"), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val vocab = Seq("a", "b").toDF("term")
    val out = graft.operators.Search.oovRate(docs, col("doc_id"), col("text"), vocab)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getAs[java.lang.Double]("oov_rate")).map(_.toDouble)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, Some(1.0 / 3.0)),
      (2L, 2L, 0L, Some(0.0)),
      (3L, 0L, 0L, None),
      (4L, 0L, 0L, None)))
  }

  test("native quality metrics == HOF form for adversarial text (property)") {
    import graft.functions.{QualityMetricsExpr, TextFunctions}
    import org.scalacheck.Gen
    val wsChars = Seq(' ', '\t', '\n', '\u000B', '\f', '\r')
    val piece = Gen.frequency(
      (4, Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)),
      (2, Gen.oneOf(TextFunctions.StopwordLexicons("en"))),
      (2, Gen.oneOf(wsChars).map(_.toString)),
      (2, Gen.oneOf(".", ",", "!!", "--", "é", "中文", "😀", "a.b", "the.")),
    )
    val textGen = Gen.frequency(
      (8, Gen.listOf(piece).map(_.mkString(" "))),
      (1, Gen.const("")),
      (1, Gen.const(" \t\n ")))
    val texts = (1 to 120).flatMap { seed =>
      textGen(org.scalacheck.Gen.Parameters.default
        .withInitialSeed(seed.toLong), org.scalacheck.rng.Seed(seed.toLong))
    } ++ Seq("the a of and to in is that", "x" * 20000, null)
    val df = texts.toDF("text")
    val rows = df.select(
      QualityMetricsExpr.metricsCol(col("text")).as("native"),
      TextFunctions.qualityMetricsHof(col("text")).as("hof")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getStruct(0) == r.getStruct(1),
        s"text=${Option(t).map(_.take(60))}: native=${r.getStruct(0)} hof=${r.getStruct(1)}")
    }
  }

  test("token estimate counts whitespace tokens plus punctuation runs") {
    val df = Seq(("hello, world!!"), ("one two three"), ("")).toDF("text")
      .select(TextFunctions.tokenCountEstimate(col("text")).as("n"))
    assert(df.collect().map(_.getAs[Int]("n")).toSeq == Seq(4, 3, 0))
  }

  test("normalized fingerprint collides on case/punct variants; rolling hash is order-sensitive") {
    val df = Seq(
      ("Hello, World!"), ("hello world"), ("HELLO... world"), ("world hello"),
    ).toDF("text").select(
      TextFunctions.normalizedFingerprint(col("text")).as("fp"),
      TextFunctions.rollingHash(col("text")).as("rh"))
    val rows = df.collect()
    assert(rows.take(3).map(_.getString(0)).distinct.length == 1)
    assert(rows(3).getString(0) != rows(0).getString(0))
    // same token multiset, different order -> different rolling hash
    assert(rows(3).getLong(1) != rows(1).getLong(1))
  }
}

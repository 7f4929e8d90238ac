package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time downsampling and continuity diagnostics — the time-series
  * prep steps of an event-log pipeline: collapse a raw event stream to
  * fixed-width buckets (OHLC/volume rollup, the classic telemetry /
  * market-data reduction) and measure per-key arrival gaps (session
  * continuity, sensor dropout, crawl staleness).
  */
object TimeSeries {

  /** Epoch micros for either timestamp flavor (`unix_micros` rejects
    * TIMESTAMP_NTZ outright): NTZ casts through LTZ using the session
    * timezone — the identity on the instant under the engine's UTC
    * sessions; a non-UTC session interprets NTZ wall times in that zone,
    * which is the standard Spark convention. */
  private def epochMicros(ts: Column): Column = unix_micros(ts.cast("timestamp"))

  /** Epoch-microsecond bucket index for a timestamp at `widthSeconds`.
    * Exact integer floor division of unix micros ([[RangeJoin.floorDiv]]
    * — correct for pre-1970 instants too, where `div` would truncate the
    * wrong way), so bucket assignment is identical across engines and
    * timezones (timestamps are NTZ/UTC in the testdata; production
    * TZ-aware columns bucket on their UTC instant). */
  def timeBucket(ts: Column, widthSeconds: Long): Column = {
    require(widthSeconds > 0 && widthSeconds <= Long.MaxValue / 1000000L,
      s"timeBucket: widthSeconds out of range, got $widthSeconds")
    RangeJoin.floorDiv(epochMicros(ts), widthSeconds * 1000000L)
  }

  /** OHLC downsample: one row per (bucket) [or (key, bucket) when `keys`
    * is non-empty] with open/close (value of the earliest/latest event),
    * high/low (min/max value), volume (event count), and the bucket start
    * timestamp. Ties in event time break on `id` (pass a unique id), so
    * open/close are deterministic even when events share a timestamp.
    *
    * Scale shape: one shuffle on the bucket key via min_by/max_by
    * aggregates over a (ts, id) struct — a plain hash aggregation with
    * map-side partials, NO window (a window would sort every bucket's
    * rows; min_by keeps a single running champion per group). Bucket keys
    * are dense and bounded by the time range, and adding the natural
    * entity key to `keys` spreads hot buckets.
    */
  def downsampleOhlc(
      events: DataFrame,
      ts: Column,
      id: Column,
      value: Column,
      widthSeconds: Long,
      keys: Seq[Column] = Nil,
  ): DataFrame = {
    require(widthSeconds > 0, s"downsampleOhlc: widthSeconds must be positive, got $widthSeconds")
    // fail loudly instead of silently replacing an input column with the
    // generated bucket key (the chunkDocuments guard, same rationale)
    require(!events.columns.contains("bucket"),
      "downsampleOhlc: input already has a 'bucket' column — alias it away")
    val ord = struct(ts.as("t"), id.as("i"))
    events
      .filter(ts.isNotNull)
      .withColumn("bucket", timeBucket(ts, widthSeconds))
      .groupBy(keys :+ col("bucket"): _*)
      .agg(
        min_by(value, ord).as("open"),
        max_by(value, ord).as("close"),
        max(value).as("high"),
        min(value).as("low"),
        count(lit(1)).as("volume"))
      // NTZ like the source columns (timestamp_micros yields LTZ; the
      // session tz is UTC so the cast is the identity on the instant)
      .withColumn("bucket_start",
        timestamp_micros(col("bucket") * lit(widthSeconds * 1000000L)).cast("timestamp_ntz"))
  }

  /** Ordered funnel analysis — the conversion diagnostic of an event
    * pipeline: for each user, how far through `steps` they progressed,
    * where step i+1 only counts if it occurs AT OR AFTER the user's
    * earliest completion of step i (greedy earliest-completion
    * semantics — the standard funnel definition; simultaneous events
    * count, `>=`). Returns one row per user who completed at least the
    * first step: (user, stages_completed, first_at, completed_at).
    *
    * Scale shape: one hash aggregation per step over a monotonically
    * SHRINKING frontier (frontier i+1 ⊆ frontier i), each an equi-join
    * on the user key — broadcast once the frontier is small, never a
    * per-user event sort. Each frontier is lazily pinned: it feeds both
    * the next step and the final assembly, and without the pin frontier
    * i would re-execute once per later step (quadratic re-scan).
    */
  def funnel(
      events: DataFrame,
      user: Column,
      ts: Column,
      step: Column,
      steps: Seq[String],
  ): DataFrame = {
    require(steps.nonEmpty, "funnel: steps must be non-empty")
    require(steps.distinct.size == steps.size, s"funnel: steps must be distinct, got $steps")
    val base = events
      .filter(ts.isNotNull && user.isNotNull)
      .select(user.as("user"), ts.as("_ts"), step.as("_step"))
    val first = base.filter(col("_step") === steps.head)
      .groupBy(col("user")).agg(min(col("_ts")).as("t_0"))
      .transform(graft.operators.Pin.lazyPin)
    val frontiers = steps.tail.zipWithIndex.scanLeft(first) { case (prev, (s, i)) =>
      base.filter(col("_step") === s)
        .join(prev.select(col("user"), col(s"t_$i")), Seq("user"))
        .filter(col("_ts") >= col(s"t_$i"))
        .groupBy(col("user")).agg(min(col("_ts")).as(s"t_${i + 1}"))
        .transform(graft.operators.Pin.lazyPin)
    }
    val joined = frontiers.zipWithIndex.tail.foldLeft(frontiers.head) {
      case (acc, (f, i)) => acc.join(f, Seq("user"), "left")
    }
    val stages = frontiers.indices.tail.foldLeft(lit(1): Column) { (a, i) =>
      a + when(col(s"t_$i").isNotNull, lit(1)).otherwise(lit(0))
    }
    joined.select(col("user"), stages.as("stages_completed"),
      col("t_0").as("first_at"),
      coalesce(frontiers.indices.reverse.map(i => col(s"t_$i")): _*).as("completed_at"))
  }

  /** Cohort retention — users bucketed by their FIRST-seen period
    * (`widthSeconds`-wide, e.g. 7 days), counted per (cohort, offset)
    * period they return in. Offset 0 is the cohort period itself; the
    * classic retention triangle.
    *
    * Scale shape: one min-aggregation for first-seen, joined back on the
    * user key (both sides shuffle-partition on user), then one
    * (cohort, offset) count-distinct — cohort×offset keys are bounded by
    * the time span squared, tiny. No window over the event stream.
    */
  def cohortRetention(
      events: DataFrame,
      user: Column,
      ts: Column,
      widthSeconds: Long,
  ): DataFrame = {
    val base = events
      .filter(ts.isNotNull && user.isNotNull)
      .select(user.as("user"), timeBucket(ts, widthSeconds).as("_b"))
    val firstSeen = base.groupBy(col("user")).agg(min(col("_b")).as("cohort"))
    base.join(firstSeen, Seq("user"))
      .groupBy(col("cohort"), (col("_b") - col("cohort")).as("offset"))
      .agg(countDistinct(col("user")).as("n_users"))
  }

  /** Per-key arrival-gap diagnostics: for each key, the count of
    * consecutive-event gaps exceeding `gapSeconds`, the maximum gap, and
    * the mean gap (seconds, exact micros arithmetic; single-event keys
    * report zero gaps with NULL max/mean). The dropout/staleness monitor
    * for ingest feeds.
    *
    * Scale shape: one lag window PARTITIONED BY the key (parallel across
    * keys — never a global single-partition sort) feeding one hash
    * aggregation on the same key, so the sort and the agg share a single
    * shuffle. Events sharing a timestamp produce the same gap multiset
    * whatever their relative order (equal values lag to a zero gap), so
    * the aggregates are deterministic without an id tie-break. Mean gaps
    * are exact integer-microsecond averages divided once at the end —
    * bit-identical cross-engine.
    */
  def gapStats(
      events: DataFrame,
      key: Column,
      ts: Column,
      gapSeconds: Long,
  ): DataFrame = {
    require(gapSeconds > 0, s"gapStats: gapSeconds must be positive, got $gapSeconds")
    events
      .filter(ts.isNotNull)
      .select(key.as("key"), epochMicros(ts).as("_us"))
      .withColumn("_gap_us", col("_us") - lag(col("_us"), 1).over(
        Window.partitionBy(col("key")).orderBy(col("_us").asc)))
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("_gap_us") > gapSeconds * 1000000L, lit(1L)).otherwise(lit(0L)))
          .as("n_gaps"),
        (max(col("_gap_us")).cast("double") / lit(1000000.0)).as("max_gap_s"),
        (sum(col("_gap_us")).cast("double") / count(col("_gap_us")).cast("double") /
          lit(1000000.0)).as("mean_gap_s"))
  }

  /** User growth curve — new and cumulative distinct users per time
    * bucket, the adoption/coverage readout. Computed WITHOUT a windowed
    * count-distinct over the corpus (quadratic state): each user
    * contributes exactly once at their FIRST bucket (one champion-min
    * aggregation), the per-bucket rollup counts those debuts, and the
    * running total is a window over the |buckets|-row summary frame —
    * never the events.
    *
    * Engine parity: exact BIGINT counts; bucket boundaries via
    * date_trunc on both engines; the bucket renders as a string at
    * second precision (the interval-join ts contract).
    *
    * @param unit date_trunc unit ('day', 'hour', 'week', ...)
    * @return (bucket_start, n_new, cum_users) ordered by bucket_start */
  def userGrowth(
      events: DataFrame,
      user: Column,
      ts: Column,
      unit: String = "day",
  ): DataFrame = {
    require(Set("year", "quarter", "month", "week", "day", "hour", "minute")(unit.toLowerCase),
      s"userGrowth: unsupported trunc unit '$unit'")
    val debut = events
      .filter(user.isNotNull && ts.isNotNull)
      .groupBy(user.as("_u"))
      .agg(min(date_trunc(unit, ts)).as("_d"))
    val perBucket = debut.groupBy(col("_d")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select(date_format(col("_d"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        col("n_new"), col("cum_users"))
      .orderBy(col("bucket_start"))
  }

  /** Per-key EWMA baseline over time buckets — the smoothed expectation
    * an anomaly monitor compares each new bucket against ("is this
    * hour's mean 3x its trailing baseline?"):
    *
    *   mean_t = (Σ floor(v·100)) / 100 / n_t          (exact cents)
    *   ewma_0 = mean_0
    *   ewma_t = α·mean_t + (1−α)·ewma_{t−1}           (α = alphaPct/100)
    *
    * Determinism contract: bucket means divide exact integer cents
    * (every step exactly-rounded IEEE); the EWMA is a FIXED-ORDER
    * sequential scan over the bucket sequence — the proven sequential-
    * fold parity shape (engine per-key linear scan ↔ oracle recursive
    * CTE replay the identical op sequence), never a shuffle-order float
    * sum. Missing buckets are skipped, not zero-filled: the scan runs
    * over OBSERVED buckets in order (zero-fill upstream if gaps must
    * decay the baseline).
    *
    * Scale shape: one map-side-combined aggregation to (key, bucket)
    * rows, then one collect_list per key over its OWN buckets — state
    * is |buckets|-bounded per key (720/month at 1 h), keys run in
    * parallel, the event stream never sorts globally. Streaming: stage
    * 1 is the watermarkable count/sum aggregation; the fold is the
    * batch-side assembly (the windowedDrift deployment shape).
    *
    * @return one row per (key, bucket): (key, bucket, bucket_start,
    *         n, mean_v, ewma), ordered */
  /** EXACT trailing active users — "distinct users in the last
    * `windowBuckets` hours, refreshed hourly" (the rolling-DAU/WAU
    * monitor, where the overlapping windows make a naive distinct-per-
    * window recompute the whole window every slide).
    *
    * Scale shape: raw events first collapse to DISTINCT (user, bucket)
    * pairs (one shuffle, map-side combined — the only stage that sees
    * the event stream), and only that pre-aggregated set fans out to
    * the `windowBuckets` windows each pair affects (explode of a
    * sequence literal: cardinality = active-user-hours x window width,
    * NOT events x width), then one distinct count per window end. All
    * exact integers; no sketch, no approximation.
    *
    * @return (window_end, window_start_ts, n_users) for EVERY window
    *         end from the first to `windowBuckets`-1 past the last
    *         active bucket (trailing windows drain as activity ages
    *         out), ordered — DENSE across activity gaps: a window end
    *         whose trailing window contains zero active users ships an
    *         explicit n_users = 0 row (a monitor must see the zero,
    *         not a missing row). The densified range is bounded by the
    *         data's own bucket span, so the explode stays
    *         |buckets|-sized — never events-sized. */
  def rollingActiveUsers(
      events: DataFrame,
      user: Column,
      ts: Column,
      widthSeconds: Long = 3600L,
      windowBuckets: Int = 24): DataFrame = {
    require(windowBuckets >= 1,
      s"rollingActiveUsers: windowBuckets must be >= 1, got $windowBuckets")
    // the distinct (user, bucket) set feeds BOTH the window fan-out and
    // the densification range: pin it so the event-stream distinct (the
    // only stage that sees raw events) runs once
    val ub = events
      .filter(user.isNotNull && ts.isNotNull)
      .select(user.as("u"), timeBucket(ts, widthSeconds).as("b"))
      .distinct()
      .transform(graft.operators.Pin.lazyPin)
    val counts = ub
      .select(col("u"),
        explode(sequence(col("b"), col("b") + lit(windowBuckets - 1))).as("window_end"))
      .distinct()
      .groupBy(col("window_end"))
      .agg(count(lit(1)).as("n_users"))
    // dense window-end spine: min(b) .. max(b) + w - 1 (empty input ->
    // NULL bounds -> NULL sequence -> zero rows, not a crash)
    val spine = ub
      .agg(min(col("b")).as("_lo"), max(col("b")).as("_hi"))
      .select(explode(sequence(col("_lo"), col("_hi") + lit(windowBuckets - 1)))
        .as("window_end"))
    spine
      .join(counts, Seq("window_end"), "left")
      .withColumn("n_users", coalesce(col("n_users"), lit(0L)))
      .select(col("window_end"),
        date_format(timestamp_seconds(
          (col("window_end") - lit(windowBuckets - 1)) * lit(widthSeconds)),
          "yyyy-MM-dd HH:mm:ss").as("window_start_ts"),
        col("n_users"))
      .orderBy(col("window_end"))
  }

  def ewmaBaseline(
      events: DataFrame,
      key: Column,
      ts: Column,
      value: Column,
      widthSeconds: Long = 3600L,
      alphaPct: Int = 30): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 99,
      s"ewmaBaseline: alphaPct must be in [1, 99], got $alphaPct")
    val a = alphaPct / 100.0
    val b = (100 - alphaPct) / 100.0
    // Linear per-key scan (genuine per-partition imperative logic, the
    // mapPartitions case): the recurrence e_i = a·m_i + b·e_{i-1} cannot
    // be a window aggregate, and the previous array-fold
    // (aggregate + concat) copied the accumulator per step — quadratic
    // in buckets-per-key: 53.3 s -> 24.3 s at 20M events/100k keys in
    // `Harness event`. The (key, bucket) aggregation is FUSED into the same
    // scan (round-11): with ~1 event per (key, bucket) cell, a groupBy
    // gains nothing map-side but pays its own full exchange plus a
    // second repartition(key) — shuffling the RAW rows once by key and
    // finishing the bucket aggregation on the sorted run halves the
    // shuffle count (`Harness event` A/B: 14.8 -> 3.3 s at 20M events, same
    // box, PLANS.md). Cent sums are exact longs (order-free), and the
    // mean/EWMA float ops replay the previous plan's exact IEEE
    // sequence, so results are bit-identical (gate + invariance prove
    // it). Deterministic across partitionings: order derives from data.
    val filtered = events
      // key joins back to its per-key series downstream (and any SQL
      // twin's equi-join drops NULL keys silently) — a NULL key is
      // excluded like a NULL ts/value, not folded into a phantom series
      .filter(key.isNotNull && ts.isNotNull && value.isNotNull)
      .select(key.cast("string").as("key"),
        timeBucket(ts, widthSeconds).as("bucket"),
        floor(value.cast("double") * lit(100)).cast("long").as("_cents"))
    val spark = filtered.sparkSession
    import spark.implicits._
    filtered
      .as[(String, Long, Long)]
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("bucket"))
      .mapPartitions { it =>
        val rows = it.buffered
        var started = false
        var curKey: String = null
        var prev = 0.0
        new Iterator[(String, Long, Long, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (String, Long, Long, Double, Double) = {
            val (k, bkt, _) = rows.head
            var n = 0L
            var sc = 0L
            while (rows.hasNext && rows.head._1 == k && rows.head._2 == bkt) {
              sc += rows.next()._3; n += 1
            }
            val m = sc.toDouble / 100.0 / n.toDouble
            val e = if (!started || k != curKey) m else a * m + b * prev
            started = true; curKey = k; prev = e
            (k, bkt, n, m, e)
          }
        }
      }
      .toDF("key", "bucket", "n", "mean_v", "ewma")
      .select(col("key"), col("bucket"),
        date_format(timestamp_seconds(col("bucket") * lit(widthSeconds)),
          "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        col("n"), col("mean_v"), col("ewma"))
      .orderBy(col("key"), col("bucket"))
  }

  /** One-sided CUSUM change-point statistic per key (Page 1954): the
    * classic upward-drift detector `S_i = max(0, S_{i-1} + x_i − bias)`,
    * alarming when `S_i > threshold`. The sequential recursion has the
    * closed form `S_i = P_i − min(0, min_{j≤i} P_j)` over the prefix
    * sums `P` of `(x − bias)` — so the whole statistic is TWO running
    * windows (sum + min) in one pass, no iterative scan, no UDF.
    * Integer-exact end to end: quantize `value` upstream (e.g.
    * `floor(x·100)`) and the statistic is pure BIGINT arithmetic.
    *
    * Determinism contract: `ord` must be a within-key total order (pass
    * a tiebreak column alongside the timestamp); ties would make the
    * prefix sums partitioning-dependent.
    *
    * Scale shape: one shuffle on `key`; the two windows share the same
    * frame and run in a single pass per key partition — the
    * [[ewmaBaseline]] fused-window discipline.
    *
    * @return (key, ord columns…, value, cusum, alarm) one row per input */
  def cusumChangepoint(
      df: DataFrame,
      key: Column,
      ord: Seq[Column],
      value: Column,
      bias: Long,
      threshold: Long): DataFrame = {
    require(ord.nonEmpty, "cusumChangepoint: need at least one order column")
    require(threshold > 0L, s"cusumChangepoint: threshold must be positive, got $threshold")
    val base = df
      .select((key.as("key") +: ord.zipWithIndex.map { case (c, i) => c.as(s"ord$i") }) :+
        value.cast("long").as("value"): _*)
      .filter(col("key").isNotNull && col("value").isNotNull)
    val w = Window.partitionBy(col("key"))
      .orderBy((0 until ord.length).map(i => col(s"ord$i")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("_p", sum(col("value") - lit(bias)).over(w))
      .withColumn("_mp", min(col("_p")).over(w))
      .withColumn("cusum", col("_p") - least(col("_mp"), lit(0L)))
      .withColumn("alarm", col("cusum") > lit(threshold))
      .drop("_p", "_mp")
  }
}

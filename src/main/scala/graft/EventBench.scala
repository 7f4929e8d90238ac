package graft

import graft.operators.TimeSeries
import org.apache.spark.sql.functions._

/** Event-analytics scale probe: synthesizes N events (deterministic
  * hash-derived timestamps over 30 days, 100k users, 5 event types) and
  * times the OHLC downsample, gap diagnostics, funnel, and cohort
  * retention at 1300x the sf0.1 events table — the sanity check that the
  * champion-aggregate / shrinking-frontier / keyed-window shapes hold at
  * fact scale.
  *
  *   SPARK_GRAFT_NEVENTS=20000000 sbt "runMain graft.EventBench"
  *
  * Prints one JSON line: stage -> seconds plus result counts.
  */
object EventBench {

  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_NEVENTS", "20000000").toLong
    val spark = GraftSession.harness("graft-eventbench")
    spark.sparkContext.setLogLevel("WARN")

    val nUsers = 100000L
    val spanMicros = 30L * 24 * 3600 * 1000000 // 30 days
    val types = array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error"))
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(nUsers)).as("user_id"),
      timestamp_micros(pmod(xxhash64(col("id") + lit(7)), lit(spanMicros))).as("ts"),
      // skewed type mix: ~50% view, ~30% click, ~10% purchase, rest split
      element_at(types,
        (when(pmod(xxhash64(col("id") + lit(13)), lit(10)) < 5, 0)
          .when(pmod(xxhash64(col("id") + lit(13)), lit(10)) < 8, 1)
          .when(pmod(xxhash64(col("id") + lit(13)), lit(10)) < 9, 2)
          .otherwise(pmod(xxhash64(col("id") + lit(19)), lit(2)).cast("int") + 3) + 1)
          .cast("int")).as("event_type"),
      (pmod(xxhash64(col("id") + lit(17)), lit(10000)) / lit(100.0)).as("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = events.count()

    def time[A](f: => A): (A, Double) = {
      System.gc()
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // hourly OHLC keyed by event_type: ~3600 output groups
    val (nOhlc, tOhlc) = time {
      TimeSeries.downsampleOhlc(events, col("ts"), col("event_id"), col("value"),
        widthSeconds = 3600L, keys = Seq(col("event_type"))).count()
    }
    // per-user gap stats: 100k keyed windows over 20M rows
    val (nGaps, tGaps) = time {
      TimeSeries.gapStats(events, col("user_id"), col("ts"), gapSeconds = 300L).count()
    }
    // 3-step funnel over the full soup
    val (nFunnel, tFunnel) = time {
      TimeSeries.funnel(events, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
        .filter(col("stages_completed") === 3).count()
    }
    // daily cohort retention triangle
    val (nCohort, tCohort) = time {
      TimeSeries.cohortRetention(events, col("user_id"), col("ts"),
        widthSeconds = 86400L).count()
    }

    // round-9 stages: GRPO advantage over 100k user groups, daily user
    // growth (champion-min debut), windowed W1 drift vs the global
    // distribution (720 hourly windows x 10 buckets), and the CDC
    // champion merge applying a 1/3-size changelog onto a 2/3 snapshot
    val (nAdv, tAdv) = time {
      graft.operators.Preference.groupAdvantage(
        events, col("user_id"), col("event_id"), floor(col("value") * 100))
        .filter(abs(col("advantage")) > 3.0).count()
    }
    val (nGrowth, tGrowth) = time {
      TimeSeries.userGrowth(events, col("user_id"), col("ts"), "day").count()
    }
    val (nWdrift, tWdrift) = time {
      val ref = events.select(least(lit(9), greatest(lit(0),
        floor(col("value") * lit(10) / lit(100.0)).cast("int"))).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("ref_n"))
      graft.streaming.EventStream.windowedWassersteinDrift(
        events, col("value"), ref, lo = 0L, hi = 100L, buckets = 10, "1 hour")
        .count()
    }
    val (nCdc, tCdc) = time {
      val snap = events.filter(col("event_id") % 3 === 0)
        .select(expr("event_id div 3").as("k"), col("value"), col("event_type"))
      val ch = events.filter(col("event_id") % 3 =!= 0)
        .select(expr("event_id div 3").as("k"), col("event_id").as("ver"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value"), col("event_type"))
      graft.operators.Incremental.applyChangelog(
        snap, ch, col("k"), col("ver"), col("op"), Seq("value", "event_type"))
        .count()
    }

    // round-10 stages: per-hour exact top-3 heavy hitters (720 windows
    // over the full soup — the rank cut never leaves its window) and the
    // Benford audit on integer cents (one 9-row count + broadcast grid)
    val (nTopk, tTopk) = time {
      graft.streaming.EventStream.windowedTopK(
        events, col("event_type"), "1 hour", k = 3).count()
    }
    val (tvBenford, tBenford) = time {
      graft.operators.DataQuality.benfordAudit(
        events, floor(col("value") * lit(100)).cast("long"))
        .select(col("tv_n9")).head().getLong(0)
    }
    // per-USER hourly EWMA: 100k keys x 720 buckets — linear per-key
    // mapPartitions scan over key-sorted runs (was a quadratic array
    // fold: 53.3 -> 24.3 s)
    val (nEwma, tEwma) = time {
      graft.operators.TimeSeries.ewmaBaseline(
        events, col("user_id"), col("ts"), col("value"),
        widthSeconds = 3600L, alphaPct = 30).count()
    }
    // exact trailing 24 h actives: the fan-out rides the DISTINCT
    // (user, hour) pre-aggregate (17.5M pairs x 24), never raw events
    val (nRolling, tRolling) = time {
      graft.operators.TimeSeries.rollingActiveUsers(
        events, col("user_id"), col("ts"),
        widthSeconds = 3600L, windowBuckets = 24).count()
    }

    println(
      f"""{"metric":"event_bench","n_events":$n,"ohlc_buckets":$nOhlc,"gap_keys":$nGaps,"funnel_completed":$nFunnel,"cohort_cells":$nCohort,"adv_outliers":$nAdv,"growth_days":$nGrowth,"wdrift_rows":$nWdrift,"cdc_rows":$nCdc,"topk_rows":$nTopk,"benford_tv_n9":$tvBenford,"ewma_rows":$nEwma,"rolling_windows":$nRolling,"sec":{"ohlc":$tOhlc%.1f,"gaps":$tGaps%.1f,"funnel":$tFunnel%.1f,"cohort":$tCohort%.1f,"group_advantage":$tAdv%.1f,"user_growth":$tGrowth%.1f,"windowed_w1":$tWdrift%.1f,"cdc_apply":$tCdc%.1f,"windowed_topk":$tTopk%.1f,"benford":$tBenford%.1f,"ewma":$tEwma%.1f,"rolling_active":$tRolling%.1f}}""")
    spark.stop()
  }
}

package graft

import graft.operators.{AsOfJoin, EntityResolution, RangeJoin}
import org.apache.spark.sql.functions._

/** Temporal-join + entity-resolution scale probe: synthesizes N events
  * (deterministic hash-derived timestamps over 30 days, 100k users) and
  * times the as-of join, the binned range join, and blocked fuzzy
  * pairing at 2000x the sf0.1 events table — the sanity check that the
  * union+running-window and bin-equi-join shapes hold when both sides
  * are fact-sized.
  *
  *   SPARK_GRAFT_NEVENTS=20000000 sbt "runMain graft.TemporalBench"
  *
  * Prints one JSON line: stage -> seconds plus result counts.
  */
object TemporalBench {

  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_NEVENTS", "20000000").toLong
    val spark = GraftSession.harness("graft-temporalbench")
    spark.sparkContext.setLogLevel("WARN")

    val nUsers = 100000L
    val spanMicros = 30L * 24 * 3600 * 1000000 // 30 days
    // deterministic event soup: ~half probes ("click"), half references
    // ("purchase"); timestamps hash-scattered over the span
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(nUsers)).as("user_id"),
      pmod(xxhash64(col("id") + lit(7)), lit(spanMicros)).as("tsu"),
      (pmod(xxhash64(col("id") + lit(13)), lit(2)) === 0).as("is_probe"),
      (pmod(xxhash64(col("id") + lit(17)), lit(10000)) / lit(100.0)).as("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = events.count()

    def time[A](f: => A): (A, Double) = {
      System.gc()
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val probes = events.filter(col("is_probe"))
      .select(col("user_id"), col("event_id"), col("tsu"), col("value"))
    val refs = events.filter(!col("is_probe"))
      .groupBy(col("user_id"), col("tsu").as("rts"))
      .agg(max(col("value")).as("ref_value"))

    val (nAsof, tAsof) = time {
      AsOfJoin.asOf(probes, refs, Seq("user_id"), "tsu", "rts")
        .filter(col("ref_value").isNotNull).count()
    }
    val (nNearest, tNearest) = time {
      AsOfJoin.asOf(probes, refs, Seq("user_id"), "tsu", "rts", direction = "nearest")
        .filter(col("ref_value").isNotNull).count()
    }
    // dimension-path as-of: 10M probes against a 100k-key reference of
    // ~10 rows per key (sorted-array lookup join, no window)
    val (nLookup, tLookup) = time {
      val dimRefs = events.filter(!col("is_probe"))
        .filter(pmod(col("event_id"), lit(10)) === 0)
        .groupBy(col("user_id"), col("tsu").as("rts"))
        .agg(max(col("value")).as("ref_value"))
      AsOfJoin.asOfLookup(probes, dimRefs, Seq("user_id"), "tsu", "rts")
        .filter(col("ref_value").isNotNull).count()
    }
    val (nRange, tRange) = time {
      val windows = events.filter(!col("is_probe"))
        .select(col("user_id"), col("tsu").as("ws"),
          (col("tsu") + lit(3600L * 1000000L)).as("we"))
      RangeJoin.pointInInterval(
        probes.select(col("user_id"), col("event_id"), col("tsu")),
        windows, Seq("user_id"), "tsu", "ws", "we",
        binWidth = 3600L * 1000000L).count()
    }
    // entity resolution: 1M synthetic names over 2600 blocks
    val (nPairs, tEr) = time {
      val people = spark.range(1000000L).select(
        col("id"),
        concat(lit("person_"),
          lpad(pmod(xxhash64(col("id")), lit(100000)).cast("string"), 6, "0"),
          lit("_"), pmod(xxhash64(col("id") + 3), lit(10)).cast("string")).as("name"),
        pmod(xxhash64(col("id") + 11), lit(2600)).as("block"))
      EntityResolution.blockedFuzzyPairs(people, "id", "name", Seq("block"),
        maxDistance = 1, maxBlockSize = 10000).count()
    }

    // streaming drift monitor at fact scale: hourly event-type mix vs the
    // global reference over 20M events (720 windows x 5 categories)
    val (nDrift, tDrift) = time {
      val typed = events.select(
        org.apache.spark.sql.functions.timestamp_micros(col("tsu")).as("ts"),
        concat(lit("t"), pmod(xxhash64(col("event_id") + 23), lit(5))).as("event_type"))
      val ref = typed.groupBy(col("event_type").as("category"))
        .agg(count(lit(1)).as("ref_n"))
      graft.streaming.EventStream.windowedDrift(
        typed, col("event_type"), ref, windowLength = "1 hour").count()
    }

    println(
      f"""{"metric":"temporal_bench","n_events":$n,"asof_matched":$nAsof,"nearest_matched":$nNearest,"lookup_matched":$nLookup,"range_pairs":$nRange,"er_pairs":$nPairs,"drift_rows":$nDrift,"sec":{"asof":$tAsof%.1f,"asof_nearest":$tNearest%.1f,"asof_lookup":$tLookup%.1f,"range_join":$tRange%.1f,"entity_pairs":$tEr%.1f,"windowed_drift":$tDrift%.1f}}""")
    spark.stop()
  }
}

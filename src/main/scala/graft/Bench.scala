package graft

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Results are fully materialized through the noop sink (count() could
  * let Catalyst prune columns and under-measure). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness("graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup on the smallest table.
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => }
    // Shared demo-DAG caches built ONCE here, priced as a separate warmup
    // figure — otherwise the first query (alphabetically) over each memo
    // entry pays the materialization and its number stops reflecting its
    // own plan.
    val warmupSec =
      try graft.pipeline.DemoAssay.warmup(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] demo warmup failed: ${e.getMessage}"); 0.0
      }

    // Each query runs at least `repeat` times; the MINIMUM is the
    // steady-state number reported — first executions pay JIT/codegen
    // compilation, which is startup cost, not steady-state throughput.
    // SELF-DEFENSE AGAINST BOX NOISE (round-14; two rounds of driver
    // single-shot runs on a shared box read 26% over the committed clean
    // runs and cost an adjudication cycle each): when a query's repeats
    // disagree by more than `noiseSpread` (co-tenant stole the slot), up
    // to `maxRepeat` extra repeats run until two runs agree within the
    // band or the budget is spent — min over ALL repeats is still the
    // steady number, and the per-repeat RAW times ship in
    // bench_full.json's "raw" map so an inflated entry is visibly "one
    // bad repeat among stable ones", not a regression. System load
    // averages at start/end land in the artifact for the same reason.
    // A query that throws on ANY repeat is reported in the "failed" list,
    // NOT as a ~60ms exception pseudo-time that would flatter the total
    // (round-5 lesson: 10 broken queries hid behind fake 0.05-0.2s
    // entries). Intermittent counts as failed — a min over the surviving
    // repeats would hide a crash that fired on the other one.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt
    val maxRepeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_REPEAT", "4").toInt.max(repeat)
    val noiseSpread = 1.3
    // Wall, process CPU and GC per repeat (Stage.measure): the CPU and GC
    // shares let a noisy-box figure be told from a regression.
    val loadStart = Stage.loadAverage
    val ran = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var attempts = 0
      var broke = false
      val times = scala.collection.mutable.ArrayBuffer.empty[Stage.Sample]
      // two runs "agree" when the faster is within noiseSpread of the
      // slower — then the min is a believable steady state, not a race
      // the co-tenant happened to lose twice
      def settled: Boolean = times.size >= 2 && {
        val ws = times.map(_.wallSec).sorted
        ws(1) <= ws(0) * noiseSpread
      }
      while (!broke && attempts < maxRepeat && (attempts < repeat || !settled)) {
        attempts += 1
        try {
          times += Stage.measure(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          broke = true
        }
      }
      // Off-the-clock GC between queries: localCheckpoint blocks from a
      // finished query are only reclaimed after their RDD objects are
      // GC'd (ContextCleaner), and a 128 GB heap may not GC for the whole
      // suite — accumulated dead blocks inflated late-alphabet queries up
      // to 5x (j1_scan_key_join 1.1 s isolated vs 6.7 s in-suite) before
      // this. Explicit GC keeps every query's number reflecting its own
      // plan, not its predecessors' garbage.
      System.gc()
      name -> (if (broke) None else Some(times.toSeq))
    }
    val loadEnd = Stage.loadAverage
    val rawByName = ran.collect { case (n, Some(ts)) => n -> ts.map(_.wallSec) }.toMap
    val results = ran.collect { case (n, Some(ts)) => n -> ts.map(_.wallSec).min }
    val cpuByName = ran.collect { case (n, Some(ts)) => n -> ts.minBy(_.wallSec).cpuSec }.toMap
    val gcByName = ran.collect { case (n, Some(ts)) => n -> ts.minBy(_.wallSec).gcSec }.toMap
    val failed = ran.collect { case (n, None) => n }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver keeps only the LAST ~2000 chars of stdout and json-parses
    // what it finds there; one line with all per-query times (~2.3k chars and
    // growing) gets its head truncated and never parses. So: (1) a full
    // per-query line FIRST, queries sorted ASCENDING by time so truncation
    // only eats the fastest entries, totals at the END of the object so they
    // survive; (2) a compact, contract-shaped "metric" line LAST — short
    // enough to always fit the tail window whole, so it parses. The full map
    // is also written to bench_full.json for offline reading.
    val total = results.map(_._2).sum
    val totalCpu = cpuByName.values.sum
    import Stage.d3
    def fmtQs(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + d3(v) }.mkString("{", ",", "}")
    // "raw" = every repeat's wall time per query (first entry = cold).
    // total_first_sec sums the FIRST repeat only — the number a
    // single-shot run would have produced; total_sec (steady, min) is
    // the headline. A driver artifact where total_first_sec >> total_sec
    // with agreeing mins is a noisy box documenting itself, not a
    // regression.
    val rawJson = results.sortBy(_._2).map { case (n, _) =>
      "\"" + n + "\":" + rawByName(n).map(d3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val totalFirst = rawByName.values.map(_.head).sum
    val totalGc = gcByName.values.sum
    val fullLine =
      s"""{"queries":${fmtQs(results.sortBy(_._2))},"cpu":${fmtQs(results.sortBy(_._2).map { case (n, _) => n -> cpuByName(n) })},"gc":${fmtQs(results.sortBy(_._2).map { case (n, _) => n -> gcByName(n) })},"raw":$rawJson,"failed":$failedJson,"total_sec":${d3(total)},"total_first_sec":${d3(totalFirst)},"total_cpu_sec":${d3(totalCpu)},"total_gc_sec":${d3(totalGc)},"warmup_sec":${d3(warmupSec)},"load_avg_start":${d3(loadStart)},"load_avg_end":${d3(loadEnd)},"sf":"$sfDir"}"""
    // bench_full.json gets overwritten by whichever run happened last
    // (builder clean run vs driver run) — with SPARK_GRAFT_BENCH_TAG set,
    // a round-stamped copy (bench_full_<tag>.json) survives for audit.
    val outNames = "bench_full.json" ::
      sys.env.get("SPARK_GRAFT_BENCH_TAG").map(t => s"bench_full_$t.json").toList
    outNames.foreach { name =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(name), (fullLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] $name write failed: ${e.getMessage}") }
    }
    println(fullLine)
    val top = results.sortBy(-_._2).take(10)
    println(s"""{"metric":"total","value":${d3(total)},"unit":"sec","total_cpu_sec":${d3(totalCpu)},"total_first_sec":${d3(totalFirst)},"warmup_sec":${d3(warmupSec)},"load_avg_start":${d3(loadStart)},"load_avg_end":${d3(loadEnd)},"n_queries":${results.size},"n_failed":${failed.size},"queries":${fmtQs(top)},"sf":"$sfDir"}""")
    graft.pipeline.DemoAssay.releaseIndex(spark)
    spark.stop()
  }
}

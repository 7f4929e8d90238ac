package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local iteration)
    val only: Set[String] = if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = GraftSession.harness("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A crashed query must be LOUD: leave an empty query dir + _FAILED
    // marker so the oracle compare reports a red row (a missing dir would
    // silently shrink the report — round 5 lost 10 rows that way), and
    // aggregate every failure into errors.json for the driver.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        // recursive wipe: stale parquet OR a crashed write's _temporary
        // tree would mask the failure (or feed partial data to a
        // recursive-glob consumer)
        def wipe(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(wipe))
          f.delete(); ()
        }
        val d = new java.io.File(s"$outDir/$name")
        Option(d.listFiles()).foreach(_.foreach(wipe))
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_FAILED"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Per-SF pin overlay (round-12): VALUES pins in the base map are
    // rendered from sf0.01 (the driver's gate SF); when this Verify run
    // targets another SF whose tables are independently generated, the
    // SF-matching pin objects replace those entries so the local sweeps
    // check real pins instead of skipping. The driver's sf0.01 run takes
    // the empty overlay — its oracle_sql.json is byte-identical to the
    // base map.
    val sfOverlay: Map[String, String] = {
      val d = sfDir.stripSuffix("/")
      if (d.endsWith("sf0.001")) PinnedOraclesSf0001.sql
      else if (d.endsWith("sf0.1")) PinnedOraclesSf01.sql
      else Map.empty
    }
    val json = (SparkEntry.oracleSql ++ sfOverlay)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // local-only logic lint: live re-derivations of the VALUES-pinned
    // oracles, replayed by tools/check_oracle.py (never driver-consumed)
    val rederive = SparkEntry.rederiveSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rederive_sql.json"), rederive)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    graft.pipeline.DemoAssay.releaseIndex(spark)
    spark.stop()
  }
}

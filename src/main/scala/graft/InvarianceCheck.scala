package graft

import org.apache.spark.sql.SparkSession

/** Global partitioning-invariance harness: every registered query runs
  * under TWO deliberately different execution layouts (parallelism +
  * shuffle-partition counts) and must produce value-identical results.
  *
  * This is the meta-test behind the per-operator determinism specs: any
  * order-dependent aggregation (a raw double sum, an unordered
  * collect_list, a first() without ordering) in ANY registered query —
  * current or future — shows up here as a hash mismatch, without anyone
  * having to remember to write the per-op invariance test. The oracle
  * gate cannot catch these by itself: DuckDB replays single-threaded, so
  * a Spark-side shuffle-order sensitivity can agree with the oracle on
  * one lucky layout and drift on the next.
  *
  *   sbt "runMain graft.InvarianceCheck /root/testdata/sf0.001"
  *
  * Prints one line per mismatching query and a final summary line; exit
  * status is non-zero on any mismatch (CI-able).
  */
object InvarianceCheck {

  private def canonical(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // row rendering includes nested types; sort AFTER rendering so the
    // comparison never depends on output partition order
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def runAll(sfDir: String, cpus: Int, shufflePartitions: Int,
      only: Set[String]): Map[String, Either[String, (Long, String)]] = {
    val spark = GraftSession.harness("graft-invariance",
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val out = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1))
      .map { case (name, fn) =>
        val r = try {
          val rows = fn(spark, sfDir).collect()
          Right((rows.length.toLong, canonical(rows)))
        } catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(200))
        }
        name -> r
      }.toMap
    // a fully new context for the second layout: cached relations, the
    // session catalog (j8's bucketed tables) and AQE stats all reset
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only: Set[String] = if (args.length > 1) args(1).split(",").toSet else Set.empty
    // deliberately unaligned layouts: different task parallelism AND a
    // coprime shuffle fan-out, so partial-aggregation merge orders,
    // partition orders and AQE coalescing all differ between runs
    val a = runAll(sfDir, cpus = 8, shufflePartitions = 5, only)
    val b = runAll(sfDir, cpus = 3, shufflePartitions = 7, only)
    var bad = 0
    a.keySet.toSeq.sorted.foreach { name =>
      (a(name), b(name)) match {
        case (Right((na, ha)), Right((nb, hb))) if na == nb && ha == hb => ()
        case (Right((na, ha)), Right((nb, hb))) =>
          bad += 1
          println(s"MISMATCH $name: rows $na vs $nb, hash ${ha.take(8)} vs ${hb.take(8)}")
        case (Left(e), _) => bad += 1; println(s"ERROR(a) $name: $e")
        case (_, Left(e)) => bad += 1; println(s"ERROR(b) $name: $e")
      }
    }
    println(s"""{"metric":"invariance","queries":${a.size},"mismatches":$bad,"sf":"$sfDir"}""")
    if (bad > 0) sys.exit(1)
  }
}

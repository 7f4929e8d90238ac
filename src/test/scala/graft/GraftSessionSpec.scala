package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session rule, and the lint that keeps it the only one. */
class GraftSessionSpec extends AnyFunSuite {

  private def conf(env: Map[String, String], submitted: Map[String, String] = Map.empty) =
    GraftSession.settings(env, submitted, processors = 6).toMap

  test("settings: env wins, then the spark-submit conf, then the local defaults") {
    val local = conf(Map.empty)
    assert(local("spark.master") == "local[6]")
    assert(local("spark.sql.shuffle.partitions") == "6")
    assert(local("spark.sql.session.timeZone") == "UTC")
    assert(local("spark.sql.codegen.cache.maxEntries") == "5000")

    // $SPARK_GRAFT_CPUS sizes both the local master and the partitions
    val cpus = conf(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(cpus("spark.master") == "local[3]")
    assert(cpus("spark.sql.shuffle.partitions") == "3")

    // spark-submit's master and partitions are left to it ...
    val submitted = Map("spark.master" -> "yarn", "spark.sql.shuffle.partitions" -> "2000")
    val sub = conf(Map.empty, submitted)
    assert(!sub.contains("spark.master"))
    assert(!sub.contains("spark.sql.shuffle.partitions"))
    assert(sub("spark.sql.session.timeZone") == "UTC")

    // ... unless the environment overrides them
    val both = conf(Map("SPARK_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "5"), submitted)
    assert(both("spark.master") == "local[2]")
    assert(both("spark.sql.shuffle.partitions") == "5")
  }

  test("lint: GraftSession holds the only session builder under src/") {
    val needle = java.util.regex.Pattern.quote("SparkSession" + ".builder(")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val src = new java.io.File("src")
    assert(src.isDirectory, s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    val hits = scalaFiles(src).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      val n = try needle.r.findAllMatchIn(s.mkString).size finally s.close()
      if (n > 0) Some(f.getPath.replace('\\', '/') -> n) else None
    }
    assert(hits == Seq("src/main/scala/graft/GraftSession.scala" -> 1), hits.mkString(", "))
  }
}

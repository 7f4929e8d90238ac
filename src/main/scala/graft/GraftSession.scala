package graft

import graft.plans.GraftExtensions
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The engine's one session factory. The CLI, Bench, Verify,
  * InvarianceCheck, the scale benches and the tests all build their
  * session here, under one rule ([[settings]]):
  *  - `cpus` is `$SPARK_GRAFT_CPUS`, else the JVM's available processors;
  *  - the master is `$SPARK_MASTER`, else spark-submit's, else `local[cpus]`;
  *  - shuffle partitions are `$SPARK_GRAFT_CPUS`, else spark-submit's, else
  *    `cpus`;
  *  - the session time zone is UTC, the generated-class cache holds 5000
  *    entries, and [[GraftExtensions]] (the native SQL functions plus
  *    `NativeVectorRule`) is always loaded.
  *
  * Everything else is Spark 4.1's default: AQE with partition coalescing
  * and skew-join splitting, 128 MB scan splits, ANSI on (casts on untrusted
  * strings are rlike-guarded in the engine instead). On a real cluster set
  * the shuffle partitions through spark-submit so one partition is
  * 100-200 MB; AQE coalesces from there. Without that setting they fall
  * back to the driver JVM's processor count, which AQE cannot split.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = cpus(sys.env, Runtime.getRuntime.availableProcessors())

  private def cpus(env: Map[String, String], processors: Int): Int =
    env.get("SPARK_GRAFT_CPUS").fold(processors)(_.toInt)

  /** The conf the factory sets, as a pure function of the environment, the
    * spark-submit conf and the processor count. A key spark-submit already
    * set is left to it unless an env var overrides it. */
  private[graft] def settings(
      env: Map[String, String], submitted: Map[String, String],
      processors: Int): Seq[(String, String)] = {
    val n = cpus(env, processors)
    def unlessSubmitted(key: String, default: String): Option[String] =
      if (submitted.contains(key)) None else Some(default)
    val master = env.get("SPARK_MASTER").orElse(unlessSubmitted("spark.master", s"local[$n]"))
    val partitions = env.get("SPARK_GRAFT_CPUS")
      .orElse(unlessSubmitted("spark.sql.shuffle.partitions", n.toString))
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      // Static conf, default 100: the query suite generates far more
      // codegen units than that, so the cache thrashes and every replay
      // re-pays Janino compilation (round-13: tdp_dataset_card burned
      // 121 CPU-s in-suite vs 24 isolated; the 285-query suite went
      // 342.9 -> 272.5 s when sized; PLANS.md r13).
      "spark.sql.codegen.cache.maxEntries" -> "5000",
    ) ++ master.map("spark.master" -> _) ++
      partitions.map("spark.sql.shuffle.partitions" -> _)
  }

  def builder(appName: String): SparkSession.Builder = {
    val conf = settings(sys.env, new SparkConf(true).getAll.toMap,
      Runtime.getRuntime.availableProcessors())
    conf.foldLeft(SparkSession.builder().appName(appName)
      .withExtensions(new GraftExtensions)) { case (b, (k, v)) => b.config(k, v) }
  }

  /** A harness session (bench, verify, tests): the rule above with the web
    * UI off, plus any harness-specific conf. The CLI keeps Spark's UI
    * default so a cluster submission has its UI. */
  def harness(appName: String, extra: (String, String)*): SparkSession =
    (("spark.ui.enabled" -> "false") +: extra)
      .foldLeft(builder(appName)) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
}

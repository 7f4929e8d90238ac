package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run.
  *
  * A span is opened around each call the benchmark makes into a layer's
  * public function; it records name, start, end, parent and run id and
  * stays in memory until [[report]]. While a span is open its id is the
  * SparkContext local property [[SpanKey]], so every job submitted inside
  * it is attributed to it by [[SparkCounters]]. JVM and codegen counters
  * are read at span start and end and attached as deltas. */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
    var end: Long = start
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
    def seconds: Double = (end - start) / 1e9
  }

  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val counters = new SparkCounters
  private val actions = mutable.ArrayBuffer.empty[(String, Long, Long)] // (funcName, startNs, durNs)
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val t0 = System.nanoTime()

  sc.addSparkListener(counters)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.synchronized { actions += ((funcName, System.nanoTime() - durationNs, durationNs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, System.nanoTime())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    val before = Jvm.snapshot()
    try body
    finally {
      s.end = System.nanoTime()
      Jvm.snapshot().minus(before).foreach { case (k, v) => s.add(k, v) }
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Adds `v` to counter `k` of the innermost open span. */
  def count(k: String, v: Double): Unit = stack.headOption.foreach(_.add(k, v))

  /** Times a lazy construction call (building a DataFrame, including any
    * eager action the callee runs inside it). */
  def construct[T](body: => T): T = timed("query.construct_s")(body)

  /** Drives `df` to completion: forces the executed plan, then runs
    * `action`, timing the two phases separately. */
  def drive[T](what: String, df: DataFrame)(action: DataFrame => T): T = {
    val p0 = System.nanoTime()
    val plan = df.queryExecution.executedPlan
    val p1 = System.nanoTime()
    val out = action(df)
    val p2 = System.nanoTime()
    count("query.plan_s", (p1 - p0) / 1e9)
    count("query.execute_s", (p2 - p1) / 1e9)
    queries += Map(
      "span" -> stack.headOption.fold(-1)(_.id), "what" -> what,
      "plan_s" -> (p1 - p0) / 1e9, "execute_s" -> (p2 - p1) / 1e9,
      "plan_nodes" -> plan.collect { case n => n }.size,
      "plan" -> plan.treeString.linesIterator.take(40).mkString("\n"))
    out
  }

  private def timed[T](key: String)(body: => T): T = {
    val a = System.nanoTime()
    try body finally count(key, (System.nanoTime() - a) / 1e9)
  }

  /** Self time: the span minus the part its (sequential) children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Attaches the Spark counters to their spans, writes the span file and
    * returns the run-level totals. */
  def report(path: String): Map[String, Double] = {
    BusDrain(sc)
    counters.perSpan.foreach { case (id, c) =>
      spans.lift(id).foreach { s => c.asMap.foreach { case (k, v) => s.add(k, v) } }
    }
    val acts = actions.synchronized(actions.toList)
    acts.foreach { case (_, start, _) =>
      innermostAt(start).foreach(_.add("sql.actions", 1))
    }
    val json = new StringBuilder
    json.append(s"""{"run_id":${q(runId)},"spans":[""")
    json.append(spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"run_id":${q(runId)},""" +
        s""""start_s":${num((s.start - t0) / 1e9)},"end_s":${num((s.end - t0) / 1e9)},""" +
        s""""self_s":${num(selfSeconds(s))},"attrs":{$attrs}}"""
    }.mkString(",\n"))
    json.append("],\"queries\":[")
    json.append(queries.map { m =>
      m.map { case (k, v) => s"${q(k)}:${v match {
        case d: Double => num(d)
        case i: Int => i.toString
        case other => q(other.toString)
      }}" }.mkString("{", ",", "}")
    }.mkString(",\n"))
    json.append("],\"actions\":[")
    json.append(acts.map { case (f, start, dur) =>
      s"""{"func":${q(f)},"start_s":${num((start - t0) / 1e9)},"dur_s":${num(dur / 1e9)}}"""
    }.mkString(","))
    json.append("]}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json.toString)
    counters.totals
  }

  private def innermostAt(ns: Long): Option[Span] =
    spans.filter(s => s.start <= ns && ns <= s.end).sortBy(s => s.end - s.start).headOption
}

object Tracer {
  val SpanKey = "perfbench.span"

  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Process-wide JVM and Spark codegen counters, read through MXBeans and
  * Spark's CodegenMetrics source. */
object Jvm {
  final case class Snap(values: Map[String, Double]) {
    def minus(o: Snap): Map[String, Double] =
      values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) }
  }

  def snapshot(): Snap = {
    val comp = CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(Map(
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3,
      // the histogram keeps a sample reservoir: count x mean estimates the
      // total compile time once more than ~1000 classes were compiled
      "codegen.compile_s" -> comp.getCount * comp.getSnapshot.getMean / 1e3,
      "codegen.classes" ->
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble,
    ))
  }
}

/** Job, stage and task counters keyed by the span that submitted them. */
final class SparkCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks, emptyTasks = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill = 0L
    def asMap: Map[String, Double] = Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.empty_tasks" -> emptyTasks.toDouble,
      "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> shuffleRead / 1048576.0,
      "spark.spill_mb" -> spill / 1048576.0)
  }

  val perSpan: mutable.Map[Int, C] = mutable.LinkedHashMap.empty
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def of(span: Int): C = perSpan.getOrElseUpdate(span, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    of(span).jobs += 1
    e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (read == 0 && written == 0) c.emptyTasks += 1
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Run-level totals, plus the skew of the worst stage: max over median
    * task run time, over stages with at least two tasks whose longest task
    * ran 100 ms or more (below that the millisecond clock is all noise). */
  def totals: Map[String, Double] = synchronized {
    val sum = perSpan.values.map(_.asMap).foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
    val skews = stageTaskMs.values.filter(ts => ts.size >= 2 && ts.max >= 100).map { ts =>
      val s = ts.sorted
      val median = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
      s.last / math.max(median, 1.0)
    }
    val tasks = sum.getOrElse("spark.tasks", 0.0)
    sum - "spark.empty_tasks" ++ Map(
      "spark.empty_task_ratio" -> (if (tasks > 0) sum("spark.empty_tasks") / tasks else 0.0),
      "spark.stage_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
  }
}

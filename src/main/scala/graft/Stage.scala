package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** One timed stage of a [[Harness]] run: the size of its result (rows for
  * a count or a sink, the pairs of a top-k set, the scalar a fold returns)
  * and the wall of each of its `runs` runs, with the process CPU and GC
  * seconds of the fastest. */
final case class Stage(name: String, count: Long, walls: Seq[Double], cpuSec: Double, gcSec: Double) {

  /** The fastest run: later runs skip the first run's codegen and JIT. */
  def sec: Double = walls.min

  def json: String = {
    val first = if (walls.size > 1) s""","first_sec":${Stage.d3(walls.head)}""" else ""
    s""""$name":{"count":$count,"sec":${Stage.d3(sec)},"cpu_sec":${Stage.d3(cpuSec)},""" +
      s""""gc_sec":${Stage.d3(gcSec)},"runs":${walls.size}$first}"""
  }
}

/** The one wall / process-CPU / GC measurement, shared by [[Bench]] and
  * [[Harness]]. Process CPU sits next to wall time because a co-tenant on
  * a shared box inflates wall 4.5-10x while CPU barely moves, so wall far
  * above CPU per thread reads as a noisy box, not a regression. Local
  * masters keep all executor work in this process, so it is the whole
  * stage's CPU. GC time (summed over all collectors) makes the GC share
  * of a figure attributable instead of guessed. */
object Stage {

  final case class Sample(wallSec: Double, cpuSec: Double, gcSec: Double)

  private val osBean = ManagementFactory
    .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def measure[A](f: => A): (A, Sample) = {
    val t0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime; val g0 = gcMillis()
    val r = f
    (r, Sample((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9,
      (gcMillis() - g0) / 1e3))
  }

  def loadAverage: Double = osBean.getSystemLoadAverage

  /** Three decimals in `Locale.ROOT`: the `f` interpolator follows the JVM
    * default locale, and a comma-decimal locale would emit unparseable
    * JSON. */
  def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}

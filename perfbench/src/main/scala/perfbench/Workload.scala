package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One timed operation: a sync or a fan-out pass.
  *
  * @param records batch-inference records processed (syncs) or users
  *   delivered (fan-out)
  * @param bytes bytes the operation persisted
  * @param failures output checks that did not hold (empty when correct)
  */
final case class Outcome(wall: Double, cpu: Double, records: Long,
    bytes: Long, heapMb: Double, failures: Seq[String])

/** Per-layer metrics of one traced run, plus the traced wall time that
  * `tracing_overhead_frac` compares with the untraced median.
  */
final case class TraceResult(metrics: Map[String, Double], tracedWall: Double,
    passes: Int, failures: Seq[String])

trait Workload {
  /** Generate inputs from the seed, plus the priming sync where the
    * workload needs prior state. Repeatable: each call starts over.
    */
  def prepare(): Unit

  /** One timed operation on a fresh job root restored from the pristine
    * pre-state; the root is deleted before returning.
    */
  def runOnce(i: Int): Outcome

  /** One untimed operation that must pass its checks. */
  def warmUp(): Unit = {
    val o = runOnce(0)
    require(o.failures.isEmpty, s"warm-up: ${o.failures.mkString("; ")}")
  }

  /** The traced passes; see `Tracer`. */
  def traced(tr: Tracer, cores: Int): TraceResult
}

/** Process-level probes read around a timed call. */
object Probe {

  private val ClkTck = 100.0 // USER_HZ on Linux

  /** Process CPU seconds, utime + stime of `/proc/self/stat`. */
  def cpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    // fields 14 and 15 of stat(5); f(0) is field 3
    (f(11).toLong + f(12).toLong) / ClkTck
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of per-pool heap peaks since [[resetHeapPeak]], in MB. */
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Run `f`, returning it with wall and CPU seconds and heap peak. */
  def measure[T](f: => T): (T, Double, Double, Double) = {
    resetHeapPeak()
    val c0 = cpuSeconds()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, cpuSeconds() - c0, heapPeakMb())
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def path(p: Path): String = p.toAbsolutePath.toString
}

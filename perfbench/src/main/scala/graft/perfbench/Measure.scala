package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Clocks and counters of the driver JVM. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def wallNs: Long = System.nanoTime()

  def timedMs(body: => Unit): Double = { val t = wallNs; body; (wallNs - t) / 1e6 }

  /** CPU time of the whole process, all threads, in seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set (VmHWM) of this process, MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Samples of one measured segment. Thread-safe: clients record into it
  * concurrently. `op` latencies are what `op_p50_ms`/`op_p90_ms` report,
  * `writes` latencies feed `write_p50_ms` (publish-read's write ops,
  * pipeline-batch's noop-write materializations). */
final class Recorder {
  val ops = new ConcurrentLinkedQueue[Double]()
  val writes = new ConcurrentLinkedQueue[Double]()
  /** Per-op (name, wall s, cpu s) for single-client workloads. */
  val named = new ConcurrentLinkedQueue[(String, Double, Double)]()
  /** Completed units of work: calls, queries or cycles. */
  val units = new AtomicLong()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val resultRows = new AtomicLong()
  val arrowBytes = new AtomicLong()
  val userBytes = new AtomicLong()
  val persistedAfterOp = new ConcurrentLinkedQueue[Double]()
  val filesPerVersion = new ConcurrentLinkedQueue[Double]()
  val notes = new ConcurrentLinkedQueue[String]()

  /** Records one attempted op; a failure or a wrong answer counts as failed
    * and its latency is not a sample. */
  def op(latencyMs: Double, ok: Boolean, isWrite: Boolean = false): Unit = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    else if (isWrite) writes.add(latencyMs) else ops.add(latencyMs)
  }

  def fail(what: String, e: Throwable): Unit = {
    if (notes.size < 20) notes.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    attempted.incrementAndGet(); failed.incrementAndGet()
  }

  def mismatch(what: String): Unit =
    if (notes.size < 20) notes.add(s"wrong answer: $what".take(300))
}

/** One measured segment: samples plus the wall and process-CPU clocks and
  * JVM counters around it. */
final case class Segment(rec: Recorder, wallS: Double, cpuS: Double,
    gcMs: Long, jitMs: Long) {
  def units: Long = math.max(1L, rec.units.get)
}

object Segment {
  def measure(body: Recorder => Unit): Segment = {
    val rec = new Recorder
    val (w0, c0, g0, j0) = (Clock.wallNs, Clock.cpuS, Clock.gcMs, Clock.jitMs)
    body(rec)
    Segment(rec, (Clock.wallNs - w0) / 1e9, Clock.cpuS - c0, Clock.gcMs - g0, Clock.jitMs - j0)
  }
}

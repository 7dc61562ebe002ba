package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. Spans of one benchmark operation share
  * `op`; `parent` is the enclosing span (0 for the operation's root). */
final case class Span(op: Long, id: Long, parent: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the benchmark's calls into graft. Off by default: an
  * untraced run only pays one volatile read per call. When on, each span is
  * kept in memory and written out when the run ends, and the layer of the
  * innermost open span rides on the thread's Spark local properties, so the
  * listener can charge every job to the layer that started it. */
object Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** (op id, span id, layer) of the innermost open span on this thread. */
  final case class Ctx(op: Long, span: Long, layer: String)
  private val current = new ThreadLocal[Ctx]

  def context: Ctx = current.get

  /** Runs `body` with `ctx` as the open span: used to carry a caller's span
    * into the worker thread `GraftService.callWithRetry` starts. */
  def within[T](sc: SparkContext, ctx: Ctx)(body: => T): T =
    if (!enabled || ctx == null) body
    else {
      val prev = current.get
      current.set(ctx)
      sc.setLocalProperty(LayerProp, ctx.layer)
      try body finally {
        current.set(prev)
        sc.setLocalProperty(LayerProp, if (prev == null) null else prev.layer)
      }
    }

  /** A new benchmark operation: the root span every layer span nests in. */
  def op[T](sc: SparkContext, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val opId = ids.incrementAndGet()
      within(sc, Ctx(opId, 0L, "op"))(span(sc, "op", name)(body))
    }

  def span[T](sc: SparkContext, layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get
      val id = ids.incrementAndGet()
      val op = if (parent == null) id else parent.op
      val t0 = System.nanoTime()
      try within(sc, Ctx(op, id, layer))(body)
      finally spans.add(Span(op, id, if (parent == null) 0L else parent.span,
        layer, name, t0, System.nanoTime()))
    }

  val LayerProp = "perfbench.layer"

  /** Writes the spans as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counts at the layer boundaries from Spark's public listener hooks: jobs
  * charged to the layer that started them, stage and task metrics, and per
  * SQL execution the planning phase times. Only events inside the traced
  * window `[from, until]` (epoch ms) count. Read it after the session is
  * stopped, which drains the listener bus. */
final class LayerListener extends SparkListener {
  @volatile var from = Long.MaxValue
  @volatile var until = Long.MaxValue
  private def inWindow(t: Long) = t >= from && t <= until

  val jobsByLayer = mutable.Map[String, Int]().withDefaultValue(0)
  private val execLayer = mutable.Map[Long, String]()
  private val execStart = mutable.Map[Long, Long]()
  /** Wall ms of SQL executions, per layer that started them. */
  val execMsByLayer = mutable.Map[String, Double]().withDefaultValue(0.0)
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs, scanBytes, rowsScanned = 0L
  var shuffleWrite, shuffleRead, spill, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var planBytes, executions = 0L
  /** Layer names to leave out of every count (the benchmark's own checks). */
  private val excluded = Set("check")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (inWindow(e.time)) {
      val props = Option(e.properties)
      val layer = props.flatMap(p => Option(p.getProperty(Tracer.LayerProp))).getOrElse("none")
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execLayer.getOrElseUpdate(x.toLong, layer))
      if (!excluded(layer)) { jobsByLayer(layer) += 1; jobs += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val t = e.stageInfo.completionTime.getOrElse(0L)
    if (inWindow(t) && !stageExcluded(e.stageInfo.stageId)) stages += 1
  }

  private val excludedStages = mutable.Set[Int]()
  private def stageExcluded(id: Int) = excludedStages(id)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerProp)))
    if (layer.exists(excluded)) excludedStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (inWindow(e.taskInfo.finishTime) && !stageExcluded(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      runMs += m.executorRunTime
      cpuMs += m.executorCpuTime / 1000000L
      gcMs += m.jvmGCTime
      scanBytes += m.inputMetrics.bytesRead
      rowsScanned += m.inputMetrics.recordsRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time
      case e: SparkListenerSQLExecutionEnd if inWindow(e.time) =>
        val layer = execLayer.getOrElse(e.executionId, "none")
        if (!excluded(layer)) {
          execStart.get(e.executionId).foreach(s => execMsByLayer(layer) += (e.time - s))
          // the event's QueryExecution is package-private in Scala but public
          // in bytecode; it carries the tracker with the phase times
          val qe = scala.util.Try(e.getClass.getMethod("qe").invoke(e)
            .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]).toOption.orNull
          if (qe != null) {
            executions += 1
            val ph = qe.tracker.phases
            analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
            optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
            planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
            planBytes += scala.util.Try(qe.executedPlan.toString.length.toLong).getOrElse(0L)
          }
        }
      case _ =>
    }
  }
}

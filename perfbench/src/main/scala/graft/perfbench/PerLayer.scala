package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced segment, per unit of work (call, query or
  * cycle) unless the name says otherwise. A layer the workload does not
  * reach reads 0. */
object PerLayer {

  def apply(seg: Segment, untraced: Seq[Segment], l: LayerListener,
      codegen: (Long, Double), sessionS: Double): Seq[(String, (Double, String))] = {
    val spans = Tracer.spans.asScala.toSeq
    def of(layer: String, name: String = null) =
      spans.filter(s => s.layer == layer && (name == null || s.name == name))
    def meanMs(xs: Seq[Span]) = if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.size
    def per(x: Double, n: Int) = if (n == 0) 0.0 else x / n
    val n = seg.units.toDouble
    val core = of("core")
    val arrow = of("arrow")
    val opsSpans = of("ops")
    val roots = of("op")
    val rec = seg.rec
    val cpuT = seg.cpuS / seg.units
    val cpuU = untraced.map(_.cpuS).sum / untraced.map(_.units).sum
    def avg(q: java.util.Collection[Double]) =
      if (q.isEmpty) 0.0 else q.asScala.sum / q.size
    Seq(
      "session.create_s" -> (sessionS, "s"),
      "core.build_ms" -> (meanMs(core), "ms"),
      "core.build_jobs" -> (per(l.jobsByLayer("core"), core.size), "count"),
      "catalyst.analysis_ms" -> (l.analysisMs / n, "ms"),
      "catalyst.optimization_ms" -> (l.optimizationMs / n, "ms"),
      "catalyst.planning_ms" -> (l.planningMs / n, "ms"),
      "catalyst.plan_bytes" -> (per(l.planBytes.toDouble, l.executions.toInt), "bytes"),
      "codegen.compiles" -> (codegen._1 / n, "count"),
      "codegen.compile_ms" -> (codegen._2 / n, "ms"),
      "exec.jobs" -> (l.jobs / n, "count"),
      "exec.stages" -> (l.stages / n, "count"),
      "exec.tasks" -> (l.tasks / n, "count"),
      "exec.run_ms" -> (l.runMs / n, "ms"),
      "exec.cpu_ms" -> (l.cpuMs / n, "ms"),
      "exec.gc_ms" -> (l.gcMs / n, "ms"),
      "exec.scan_bytes" -> (l.scanBytes / n, "bytes"),
      "exec.shuffle_write_bytes" -> (l.shuffleWrite / n, "bytes"),
      "exec.shuffle_read_bytes" -> (l.shuffleRead / n, "bytes"),
      "exec.spill_bytes" -> (l.spill / n, "bytes"),
      "exec.rows_scanned_per_result_row" ->
        (l.rowsScanned.toDouble / math.max(1L, rec.resultRows.get), "ratio"),
      // the toArrowBytes span less the SQL execution (plan + collect job) inside it
      "arrow.encode_ms" -> (per(arrow.map(_.ms).sum - l.execMsByLayer("arrow"), arrow.size), "ms"),
      "arrow.bytes" -> (per(rec.arrowBytes.get.toDouble, arrow.size), "bytes"),
      "ops.build_s" -> (meanMs(opsSpans) / 1000, "s"),
      "ops.build_jobs" -> (per(l.jobsByLayer("ops"), opsSpans.size), "count"),
      "ops.build_share" -> (if (opsSpans.isEmpty) 0.0
        else opsSpans.map(_.ms).sum / roots.filter(r => opsSpans.exists(_.op == r.op)).map(_.ms).sum, "ratio"),
      "ingest.publish_ms" -> (meanMs(of("ingest", "atomicPublish")), "ms"),
      "ingest.delete_ms" -> (meanMs(of("ingest", "deleteByKeys")), "ms"),
      "ingest.compact_ms" -> (meanMs(of("ingest", "compact")), "ms"),
      "ingest.vacuum_ms" -> (meanMs(of("ingest", "vacuum")), "ms"),
      "ingest.bytes_written_per_user_byte" ->
        (if (rec.userBytes.get == 0) 0.0 else l.outputBytes.toDouble / rec.userBytes.get, "ratio"),
      "ingest.files_per_version" -> (avg(rec.filesPerVersion), "count"),
      "state.persisted_rdds_after_op" -> (avg(rec.persistedAfterOp), "count"),
      "jvm.gc_ms" -> (seg.gcMs / n, "ms"),
      "jvm.jit_ms" -> (seg.jitMs / n, "ms"),
      "trace.overhead_frac" -> ((cpuT - cpuU) / cpuU, "ratio"))
  }
}

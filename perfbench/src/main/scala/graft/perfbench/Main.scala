package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark entry point. One JVM, one `local[nproc]` session, one workload:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --out <dir> [--tamper 1] [--record 1]
  *   Main --train 1 --out <dir>    (every workload briefly, for the JVM's
  *                                  class-data archive)
  *
  * Set-up (session, staging, expected answers, warm-up to a plateau) is
  * timed as `setup_s`. Then one untraced segment of `--seconds` gives the
  * end-to-end metrics. With `--trace 1` a traced segment and a second
  * untraced one of the same length follow; the spans and listener counts
  * give the per-layer metrics, and the CPU per op of the traced segment
  * against the untraced ones gives the tracing overhead. The last stdout
  * line is the result JSON; the line before it is a report with sample
  * counts. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(args("out")).toAbsolutePath
    if (args.get("train").contains("1")) {
      // class-loading run for the JVM's class-data archive: every workload,
      // traced, with one warm-up pass; nothing is reported
      training = true
      Workloads.foreach { w => run(w, 1L, 0.5, trace = true, tamper = false, out); Tracer.spans.clear() }
    } else {
      val (report, result) = run(args("workload"), args("seed").toLong, args("seconds").toDouble,
        args.getOrElse("trace", "0") == "1", args.getOrElse("tamper", "0") == "1", out,
        record = args.get("record").contains("1"))
      println(report)
      println(s"PERFBENCH_RESULT $result")
    }
  }

  @volatile var training = false

  val Workloads = Seq("groupby-rpc", "pipeline-batch", "publish-read")

  /** One run; returns the report line and the result JSON. */
  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, tamper: Boolean,
      out: java.nio.file.Path, record: Boolean = false): (String, String) = {
    val work = out.resolve(s"work-$workload")
    deleteTree(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = Clock.wallNs
    val spark = Session.create(work, cores)
    val sessionS = (Clock.wallNs - t0) / 1e9
    val w: Workload = workload match {
      case "groupby-rpc" => new GroupByRpc(spark, work.toString, seed, tamper)
      case "pipeline-batch" => new PipelineBatch(spark, work.toString, seed, tamper)
      case "publish-read" => new PublishRead(spark, work.toString, seed, tamper)
      case other => sys.error(s"unknown workload $other")
    }
    if (record) {
      w.stage(); w.asInstanceOf[PipelineBatch].record(); spark.stop(); sys.exit(0)
    }
    val stagingWrites = w.stage()
    val stagedS = (Clock.wallNs - t0) / 1e9
    val warmRec = new Recorder
    val warmPasses = w.warmup(warmRec)
    val setupS = (Clock.wallNs - t0) / 1e9
    log(f"set-up $setupS%.2f s (session $sessionS%.2f s, staged at $stagedS%.2f s, $warmPasses warm-up passes)")

    val untraced = Segment.measure(rec => w.run(seconds, rec))
    log(s"untraced: ${untraced.rec.units.get} units in ${untraced.wallS} s")
    // traced segment, then a second untraced one: the two untraced
    // segments bracket the traced one on the warm-up curve
    val traced = if (!trace) None else {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val (compiles0, compileNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      listener.from = System.currentTimeMillis()
      Tracer.enabled = true
      val seg = Segment.measure(rec => w.run(seconds, rec))
      Tracer.enabled = false
      listener.until = System.currentTimeMillis()
      val codegen = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        (CodeGenerator.compileTime - compileNs0) / 1e6)
      val after = Segment.measure(rec => w.run(seconds, rec))
      Some((seg, after, listener, codegen))
    }
    spark.stop() // drains the listener bus before the counts are read
    log("session stopped")

    val segs = Seq(untraced) ++ traced.toSeq.flatMap(t => Seq(t._1, t._2))
    val attempted = warmRec.attempted.get + segs.map(_.rec.attempted.get).sum
    val failed = warmRec.failed.get + segs.map(_.rec.failed.get).sum
    (Seq(warmRec) ++ segs.map(_.rec)).flatMap(_.notes.asScala).foreach(n => log(s"check: $n"))
    val e2e = endToEnd(w, untraced, setupS, stagingWrites)
    val metrics = traced match {
      case None => e2e
      case Some((seg, after, listener, codegen)) =>
        Files.createDirectories(out.resolve("trace"))
        Tracer.dump(out.resolve("trace").resolve(s"$workload-seed$seed.jsonl"))
        PerLayer(seg, Seq(untraced, after), listener, codegen, sessionS)
    }
    val samples = Map(
      "op" -> untraced.rec.ops.size, "write" -> untraced.rec.writes.size,
      "staging_write" -> stagingWrites.size, "named" -> untraced.rec.named.size)
    val report = s"""{"report":{"workload":"$workload","seed":$seed,"seconds":$seconds,""" +
      s""""trace":$trace,"cores":$cores,"warmup_passes":$warmPasses,"session_s":$sessionS,"staged_s":$stagedS,""" +
      s""""units":${untraced.rec.units.get},"wall_s":${untraced.wallS},""" +
      s""""samples":${Json.obj(samples.map { case (k, v) => k -> v.toString })},""" +
      s""""end_to_end":${Json.metrics(e2e)}}}"""
    Files.createDirectories(out.resolve("report"))
    Files.write(out.resolve("report").resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
      Seq(report).asJava)
    deleteTree(work)
    log("work dir removed")
    val correct = failed == 0 && attempted > 0
    (report, s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Json.metrics(metrics)}}""")
  }

  private def endToEnd(w: Workload, seg: Segment, setupS: Double,
      staging: Seq[Double]): Seq[(String, (Double, String))] = {
    val lat = seg.rec.ops.asScala.toSeq
    val writes = seg.rec.writes.asScala.toSeq
    val opsPerS = seg.units / seg.wallS
    val cpuPerOp = seg.cpuS / seg.units
    val named = seg.rec.named.asScala.toSeq.groupBy(_._1)
    // pipeline-batch: one pass is the sum over its queries of each query's
    // median; the other workloads derive a pass from their op rate
    val (passWall, passCpu) =
      if (named.nonEmpty) (named.values.map(xs => Stats.median(xs.map(_._2))).sum,
        named.values.map(xs => Stats.median(xs.map(_._3))).sum)
      else (w.passSize / opsPerS, w.passSize * cpuPerOp)
    Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (opsPerS, "1/s"),
      "op_p50_ms" -> (Stats.median(lat), "ms"),
      "op_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"),
      // groupby-rpc writes only while staging its shards
      "write_p50_ms" -> (Stats.median(if (writes.nonEmpty) writes else staging), "ms"),
      "cpu_s_per_op" -> (cpuPerOp, "cpu-s"),
      "pass_wall_s" -> (passWall, "s"),
      "pass_cpu_s" -> (passCpu, "s"),
      "peak_rss_mb" -> (Clock.peakRssMb, "MB"))
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] ${java.time.LocalTime.now} $s")

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

object Session {
  /** The library's own session, with Spark's scratch space kept in the
    * benchmark's work directory. */
  def create(work: java.nio.file.Path, cores: Int): SparkSession =
    graft.GraftSession.create("perfbench", cores,
      Map("spark.local.dir" -> work.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, u)) => k -> s"""{"value":${num(v)},"unit":"$u"}""" })
}

package graft.perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `pipeline-batch`: the heavy, non-service side. Inventory queries run one
  * at a time, each as purge → build → noop-write materialize, in a seeded
  * order per pass. The tables are fixed (generated from [[DataSeed]], not
  * the workload seed) so each answer can be checked against the row count
  * and order-insensitive hash recorded in [[PipelineExpected]]. */
final class PipelineBatch(spark: SparkSession, dir: String, seed: Long, tamper: Boolean)
    extends Workload {
  import PipelineBatch._

  private val sc = spark.sparkContext
  def passSize: Int = Queries.size
  val maxWarmup = 3
  private val rnd = new Random(seed)

  def stage(): Seq[Double] = {
    // the tables are independent: write them from parallel threads
    Workload.parallel(Seq("lineitem", "documents").map(t => () =>
      Clock.timedMs(DataGen.write(spark, t, dir, Sf, DataSeed))))
  }

  /** Drop persisted RDDs, the plan cache and all four session memos (gram,
    * walk, centroid, PQ) so each query pays for the state it builds. */
  def purge(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.ops.TextAnalysis.clearGramCache()
    graft.queries.VectorQueries.clearWalkCache()
    graft.ops.Similarity.clearCentroidCache()
    graft.ops.Similarity.clearPqCache()
  }

  /** (row count, order-insensitive hash) of a result. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(HashModulus))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** One query, timed and recorded; `check` compares its answer to the
    * recorded fingerprint, which runs it a second time, untimed. */
  private def query(q: String, rec: Recorder, check: Boolean): Unit = {
    purge()
    Tracer.op(sc, q) {
      val t0 = Clock.wallNs
      val c0 = Clock.cpuS
      try {
        val df = Tracer.span(sc, "ops", s"SparkEntry.queries($q)")(graft.SparkEntry.queries(q)(spark, dir))
        val writeMs = Clock.timedMs(
          Tracer.span(sc, "exec", "noop-write")(df.write.format("noop").mode("overwrite").save()))
        val wall = (Clock.wallNs - t0) / 1e9
        val cpu = Clock.cpuS - c0
        rec.persistedAfterOp.add(sc.getPersistentRDDs.size.toDouble)
        if (check) {
          val got = Tracer.span(sc, "check", "fingerprint")(fingerprint(df))
          val want = PipelineExpected.Values.get(q).map { case (n, h) => if (tamper) (n, h + 1) else (n, h) }
          val ok = want.contains(got)
          if (!ok) rec.mismatch(s"$q: got $got, want $want")
          rec.op(wall * 1000, ok)
          if (ok) rec.writes.add(writeMs)
          rec.units.incrementAndGet()
          if (ok) rec.named.add((q, wall, cpu))
          rec.resultRows.addAndGet(got._1)
        }
      } catch { case e: Exception => rec.fail(q, e) }
    }
  }

  private def pass(rec: Recorder, check: Boolean = true): Unit =
    rnd.shuffle(Queries).foreach(q => query(q, rec, check))

  /** Warm-up passes are not checked: a check runs the query again. */
  def warmup(rec: Recorder): Int = Workload.warmToPlateau(maxWarmup) { () =>
    val t0 = Clock.wallNs
    pass(rec, check = false)
    (Clock.wallNs - t0) / 1e9
  }

  /** Whole passes, each in a fresh seeded order: at least one, and another
    * only while it is expected to end within `seconds`. */
  def run(seconds: Double, rec: Recorder): Unit = {
    val deadline = Clock.wallNs + (seconds * 1e9).toLong
    var last = 0L
    do {
      val t = Clock.wallNs
      pass(rec)
      last = Clock.wallNs - t
    } while (Clock.wallNs + last < deadline)
  }

  /** Prints the fingerprints of every query, for [[PipelineExpected]]. */
  def record(): Unit = Queries.foreach { q =>
    purge()
    val (n, h) = fingerprint(graft.SparkEntry.queries(q)(spark, dir))
    println(s"""    "$q" -> (${n}L, ${h}L),""")
  }
}

object PipelineBatch {
  val Sf = 0.01
  val DataSeed = 42L
  val HashModulus = 4294967291L
  /** One execution-bound (q114) and two construction-bound (q169, q223)
    * queries. */
  val Queries: Seq[String] = Seq("q114_profile", "q169_lm_quality_5gram", "q223_lsh_sweep")
}

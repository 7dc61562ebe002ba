package graft.perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong
import scala.util.Random
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core._

/** `groupby-rpc`: the reference's one verb as a service. Two client
  * threads in a closed loop, each call `callWithRetry { groupby →
  * toArrowBytes }` over lineitem written as 10 shards. The session is never
  * purged. Every answer is checked against an expected answer computed at
  * set-up by plain Spark SQL over the same rows. */
final class GroupByRpc(spark: SparkSession, dir: String, seed: Long, tamper: Boolean)
    extends Workload {
  import GroupByRpc._

  val clients = 2
  /** The seeded call pool is cycled in order; one cycle is one "pass". */
  val poolSize = 10
  def passSize: Int = poolSize
  val maxWarmup = 3
  private val sc = spark.sparkContext
  private val shards = (0 until NrShards).map(i => s"$dir/shards/shard_$i.parquet")
  private val missing = s"$dir/shards/shard_$NrShards.parquet"
  private var pool: IndexedSeq[(GraftService.GroupByCall, Expected)] = IndexedSeq.empty

  def stage(): Seq[Double] = {
    // 10 shards of contiguous row ranges, as the reference splits a file
    val n = DataGen.rows(Sf)("lineitem")
    val writes = shards.indices.map(i => Clock.timedMs(
      DataGen.table(spark, "lineitem", Sf, seed, 1, Some((i * n / NrShards, (i + 1) * n / NrShards)))
        .write.parquet(shards(i))))
    val rnd = new Random(seed)
    val ops = Iterator.continually(AggOps).flatten
    val calls = (0 until poolSize).map(i => callFor(i, ops, rnd))
    pool = calls.zip(Workload.parallel(calls.map(c => () => expected(c))))
    writes
  }

  /** Call `i` of the pool. Fixed shares: 1 in 10 is aggregate=false, 2 in
    * 10 Concat, 1 in 10 names a missing shard; the aggregating calls walk
    * the key sets from 2 groups to ~20k groups in turn, with 1, 2, 3
    * aggregations dealt from the ops in turn, and 0 to 3 filter terms. The
    * seed draws the columns and the filter literals, so every pool does
    * about the same work. */
  private def callFor(i: Int, ops: Iterator[String], rnd: Random): GraftService.GroupByCall = {
    val files = if (i % 10 == 3) shards :+ missing else shards
    if (i % 10 == 0) {
      val k = 100 + rnd.nextInt(21)
      GraftService.GroupByCall(files, Seq("l_orderkey", "l_partkey"),
        Seq(AggSpec("l_extendedprice", "sum", "l_extendedprice")),
        FilterTerm("l_partkey", "<", k.toLong) +: whereTerms(rnd, i, 1),
        aggregate = false)
    } else {
      val concat = i % 5 == 1
      // Concat calls stop at ~1000 groups: per-shard results repeat keys
      val keys = if (concat) KeySets(i / 5 % 5) else KeySets(Merged.indexOf(i) % KeySets.size)
      val aggs = (0 until 1 + i % 3).map { j =>
        val op = ops.next()
        val in =
          if (op == "count_distinct") Seq("l_suppkey", "l_quantity")(rnd.nextInt(2))
          else Measures(rnd.nextInt(Measures.size))
        AggSpec(in, op, s"${op}_${in}_$j")
      }
      GraftService.GroupByCall(files, keys, aggs, whereTerms(rnd, i, i % 4),
        combine = if (concat) CombineMode.Concat else CombineMode.Merged)
    }
  }

  /** `n` filter terms for slot `i`, the kinds taken in turn and the
    * literals drawn in narrow ranges: the seed varies the calls, not the
    * amount of work. */
  private def whereTerms(rnd: Random, i: Int, n: Int): Seq[FilterTerm] = {
    val kinds = IndexedSeq[Random => FilterTerm](
      r => FilterTerm("l_quantity", "<", (23 + r.nextInt(5)).toDouble),
      r => FilterTerm("l_discount", ">=", (2 + r.nextInt(2)) / 100.0),
      r => FilterTerm("l_shipdate", "<=", Timestamp.from(Instant.parse(
        f"1998-${4 + r.nextInt(6)}%02d-01T00:00:00Z"))),
      r => FilterTerm("l_returnflag", "in", r.shuffle(Seq("A", "N", "R")).take(2)),
      r => FilterTerm("l_tax", "!=", r.nextInt(9) / 100.0))
    (0 until n).map(j => kinds((i + j) % kinds.size)(rnd))
  }

  /** The independent answer: a Spark SQL string over all shards read as
    * one table, or per existing shard (UNION ALL) for Concat calls. */
  private def expected(c: GraftService.GroupByCall): Expected = {
    def lit(v: Any): String = v match {
      case t: Timestamp => s"TIMESTAMP '${t.toInstant.toString.replace("T", " ").stripSuffix("Z")}'"
      case d: Double => s"${d}D"
      case l: Long => s"${l}L"
      case s: String => s"'$s'"
      case xs: Seq[_] => xs.map(lit).mkString("(", ", ", ")")
    }
    val where = if (c.where.isEmpty) "" else c.where.map { t =>
      val op = if (t.op == "==") "=" else t.op
      s"${t.col} ${op.toUpperCase} ${lit(t.value)}"
    }.mkString(" WHERE ", " AND ", "")
    def select(from: String): String =
      if (!c.aggregate) s"SELECT ${(c.groupby ++ c.aggs.map(_.input)).distinct.mkString(", ")} FROM $from$where"
      else {
        val aggs = c.aggs.map { a =>
          val e = a.op match {
            case "mean" => s"avg(${a.input})"
            case "std" => s"stddev_samp(${a.input})"
            case "count_distinct" => s"count(DISTINCT ${a.input})"
            case op => s"$op(${a.input})"
          }
          s"$e AS ${a.output}"
        }
        s"SELECT ${(c.groupby ++ aggs).mkString(", ")} FROM $from$where GROUP BY ${c.groupby.mkString(", ")}"
      }
    val existing = c.filenames.filter(_ != missing)
    val sql =
      if (c.combine == CombineMode.Concat) existing.map(f => select(s"parquet.`$f`")).mkString(" UNION ALL ")
      else select(s"parquet.`$dir/shards/shard_*.parquet`")
    val rows = spark.sql(sql).collect().toSeq.map(r => normRow(r))
    new Expected(if (tamper) tampered(rows) else rows,
      if (c.aggregate) c.groupby.size else rows.headOption.map(_.size).getOrElse(0))
  }

  /** One call, timed, then checked against its expected answer. */
  private def call(k: Long, rec: Recorder): Unit = {
    val (c, want) = pool((k % pool.size).toInt)
    Tracer.op(sc, "groupby-call") {
      val ctx = Tracer.context
      val t0 = Clock.wallNs
      try {
        val bytes = GraftService.callWithRetry(spark, "groupby") {
          Tracer.within(sc, ctx) {
            val df = Tracer.span(sc, "core", "GraftService.groupby")(GraftService.groupby(spark, c))
            df.map(d => Tracer.span(sc, "arrow", "ArrowResult.toArrowBytes")(ArrowResult.toArrowBytes(d)))
          }
        }
        val ms = (Clock.wallNs - t0) / 1e6
        val got = bytes.map(decodeArrow).getOrElse(Nil)
        val ok = want.matches(got)
        if (!ok) rec.mismatch(s"groupby $c: got ${got.size} rows, want ${want.size}")
        rec.op(ms, ok)
        rec.units.incrementAndGet()
        rec.resultRows.addAndGet(got.size)
        rec.arrowBytes.addAndGet(bytes.map(_.length.toLong).getOrElse(0L))
        rec.persistedAfterOp.add(sc.getPersistentRDDs.size.toDouble)
      } catch { case e: Exception => rec.fail("groupby", e) }
    }
  }

  /** Closed loop: `clients` threads, each sending its next call when the
    * previous one has answered, until `seconds` have passed. */
  def run(seconds: Double, rec: Recorder): Unit = {
    val next = new AtomicLong(0)
    val deadline = Clock.wallNs + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() => while (Clock.wallNs < deadline) call(next.getAndIncrement(), rec))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Warm-up: whole passes over the pool until a pass is no more than 10%
    * faster than the one before (at least 2, at most `maxPasses`). */
  def warmup(rec: Recorder): Int = Workload.warmToPlateau(maxWarmup) { () =>
    val t0 = Clock.wallNs
    val next = new AtomicLong(0)
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var k = next.getAndIncrement()
        while (k < pool.size) { call(k, rec); k = next.getAndIncrement() }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (Clock.wallNs - t0) / 1e9
  }
}

object GroupByRpc {
  val Sf = 0.1
  /** Pool slots of the Merged calls (the others: 0 aggregate=false, 1 and 6 Concat). */
  val Merged = Seq(2, 3, 4, 5, 7, 8, 9)
  /** The reference's `NR_SHARDS = 10`. */
  val NrShards = 10
  val KeySets: IndexedSeq[Seq[String]] = IndexedSeq(Seq("l_linestatus"), Seq("l_returnflag"),
    Seq("l_returnflag", "l_linestatus"), Seq("l_linenumber"), Seq("l_suppkey"), Seq("l_partkey"))
  val AggOps = IndexedSeq("sum", "mean", "count", "min", "max", "std", "count_distinct")
  val Measures = IndexedSeq("l_quantity", "l_extendedprice", "l_discount", "l_tax")



  def norm(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case i: java.lang.Integer => i.toLong
    case l: java.lang.Long => l.longValue
    case d: java.lang.Double => d.doubleValue
    case t: Timestamp => t.getTime * 1000L + (t.getNanos / 1000 % 1000)
    case t: org.apache.arrow.vector.util.Text => t.toString
    case other => other
  }

  def normRow(r: Row): Seq[Any] = r.toSeq.map(norm)

  /** A deliberately wrong copy of an expected answer (checks the check). */
  def tampered(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    if (rows.isEmpty) Seq(Seq(-1L)) else rows.updated(0, rows.head.map {
      case d: Double => d + 1.0
      case l: Long => l + 1
      case o => o
    })

  def decodeArrow(bytes: Array[Byte]): Seq[Seq[Any]] = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val out = Seq.newBuilder[Seq[Any]]
      while (reader.loadNextBatch()) {
        val vecs = (0 until root.getFieldVectors.size).map(root.getVector)
        (0 until root.getRowCount).foreach(r => out += vecs.map(v => norm(v.getObject(r))))
      }
      out.result()
    } finally { reader.close(); alloc.close() }
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x) max math.abs(y))
    case _ => a == b
  }

  private def rowClose(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => close(x, y) }

  /** An expected answer indexed for an order-insensitive multiset compare
    * in O(rows): rows are grouped by their first `nKeys` columns, and rows
    * sharing a key (Concat results) pair up greedily. Aggregate values
    * compare to a relative 1e-9: the sum order differs between the paths. */
  final class Expected(rows: Seq[Seq[Any]], nKeys: Int) {
    val size: Int = rows.size
    private val byKey = rows.groupBy(_.take(nKeys))

    def matches(got: Seq[Seq[Any]]): Boolean = got.size == size &&
      got.groupBy(_.take(nKeys)).forall { case (k, gs) =>
        byKey.get(k).exists { ws =>
          val left = ws.toBuffer
          ws.size == gs.size && gs.forall { g =>
            val i = left.indexWhere(rowClose(g, _))
            i >= 0 && { left.remove(i); true }
          }
        }
      }
  }
}

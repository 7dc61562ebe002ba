package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.core._

/** `publish-read`: writes beside reads. One client, in cycles: one write
  * op, then 3 reads of the currently published version. The write is an
  * `atomicPublish` of the current version plus a seeded 1% batch of new
  * `orders` rows; every 3rd cycle a `deleteByKeys` of 200 seeded keys
  * instead; every 10th a `compact` then `vacuum(graceMs = 0)`. Each read is
  * `GraftService.groupby` + `toArrowBytes` over
  * `readPublished(...).inputFiles`, and must show the client's own writes:
  * its row count and price sum equal the client's running totals. */
final class PublishRead(spark: SparkSession, dir: String, seed: Long, tamper: Boolean)
    extends Workload {
  import PublishRead._

  private val sc = spark.sparkContext
  private val table = s"$dir/orders_table"
  private val rnd = new Random(seed)
  /** Cycles per pass: the period of the write schedule. */
  def passSize: Int = 30
  val maxWarmup = 3
  private var cycle = 0
  /** Live keys and their prices in cents: the client's view of the table. */
  private val price = mutable.LongMap[Long]()
  private val live = mutable.ArrayBuffer[Long]()
  private var nextKey = 0L
  private var sumCents = 0L
  private var batch = 0

  def stage(): Seq[Double] = {
    val df = DataGen.table(spark, "orders", Sf, seed)
    df.select(col("o_orderkey"), col("o_totalprice")).collect().foreach { r =>
      add(r.getLong(0), math.round(r.getDouble(1) * 100))
    }
    batch = live.size / 100
    nextKey = live.max + 1
    Seq(Clock.timedMs(Ingest.atomicPublish(df, table)))
  }

  private def add(k: Long, cents: Long): Unit = {
    price(k) = cents; live += k; sumCents += cents
  }

  private def newRows(): Seq[Row] = (0 until batch).map { _ =>
    val k = nextKey; nextKey += 1
    val cents = 100000L + rnd.nextInt(49890000)
    add(k, cents)
    Row(k, rnd.nextInt(150000).toLong, Seq("F", "O", "P")(rnd.nextInt(3)), cents / 100.0,
      new Timestamp(788918400000L + rnd.nextInt(2405) * 86400000L), Priorities(rnd.nextInt(5)))
  }

  private def deleteKeys(): Seq[Long] = (0 until 200).map { _ =>
    val i = rnd.nextInt(live.size)
    val k = live(i)
    live(i) = live.last; live.remove(live.size - 1)
    sumCents -= price.remove(k).get
    k
  }

  /** This cycle's write op. */
  private def write(): Unit = {
    cycle += 1
    if (cycle % 10 == 0) {
      Tracer.span(sc, "ingest", "compact")(Ingest.compact(spark, table))
      Tracer.span(sc, "ingest", "vacuum")(Ingest.vacuum(spark, table, graceMs = 0L))
    } else if (cycle % 3 == 0) {
      val keys = deleteKeys()
      Tracer.span(sc, "ingest", "deleteByKeys")(Ingest.deleteByKeys(spark, table, "o_orderkey", keys))
    } else {
      val rows = newRows()
      val fresh = spark.createDataFrame(rows.asJava, Schema).coalesce(1)
      Tracer.span(sc, "ingest", "atomicPublish")(Ingest.atomicPublish(
        Ingest.readPublished(spark, table).unionByName(fresh), table))
    }
  }

  /** Read `i` of a cycle; checks read-your-writes. */
  private def read(i: Int, rec: Recorder): Unit = Tracer.op(sc, "read") {
    val t0 = Clock.wallNs
    try {
      val files = Tracer.span(sc, "ingest", "readPublished")(
        Ingest.readPublished(spark, table).inputFiles.toSeq)
      val call = GraftService.GroupByCall(files, ReadKeys(i % ReadKeys.size),
        Seq(AggSpec("o_orderkey", "count", "n"), AggSpec("o_totalprice", "sum", "s")))
      val df = Tracer.span(sc, "core", "GraftService.groupby")(GraftService.groupby(spark, call))
      val bytes = df.map(d => Tracer.span(sc, "arrow", "ArrowResult.toArrowBytes")(ArrowResult.toArrowBytes(d)))
      val ms = (Clock.wallNs - t0) / 1e6
      val rows = bytes.map(GroupByRpc.decodeArrow).getOrElse(Nil)
      val n = rows.map(_(rows.head.size - 2).asInstanceOf[Long]).sum
      val s = rows.map(_(rows.head.size - 1).asInstanceOf[Double]).sum
      val wantN = live.size.toLong + (if (tamper) 1 else 0)
      val wantS = sumCents / 100.0
      val ok = n == wantN && math.abs(s - wantS) <= 1e-9 * math.abs(wantS)
      if (!ok) rec.mismatch(s"read after cycle $cycle: count $n sum $s, want $wantN $wantS")
      rec.op(ms, ok)
      rec.resultRows.addAndGet(rows.size)
      rec.arrowBytes.addAndGet(bytes.map(_.length.toLong).getOrElse(0L))
      rec.filesPerVersion.add(files.size.toDouble)
      rec.persistedAfterOp.add(sc.getPersistentRDDs.size.toDouble)
    } catch { case e: Exception => rec.fail("read", e) }
  }

  private def oneCycle(rec: Recorder): Unit = {
    Tracer.op(sc, "write") {
      val t0 = Clock.wallNs
      val before = nextKey
      try {
        write()
        rec.op((Clock.wallNs - t0) / 1e6, ok = true, isWrite = true)
        rec.userBytes.addAndGet((nextKey - before) * RowBytes)
      } catch { case e: Exception => rec.fail("write", e) }
    }
    (0 until 3).foreach(i => read(i, rec))
    rec.units.incrementAndGet()
  }

  def run(seconds: Double, rec: Recorder): Unit = {
    val deadline = Clock.wallNs + (seconds * 1e9).toLong
    while (Clock.wallNs < deadline) oneCycle(rec)
  }

  def warmup(rec: Recorder): Int = Workload.warmToPlateau(maxWarmup) { () =>
    val t0 = Clock.wallNs
    (0 until 3).foreach(_ => oneCycle(rec))
    (Clock.wallNs - t0) / 1e9
  }
}

object PublishRead {
  val Sf = 0.1
  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ReadKeys = IndexedSeq(Seq("o_orderstatus"), Seq("o_orderpriority"),
    Seq("o_orderstatus", "o_orderpriority"))
  /** Bytes of one new row's values: five 8-byte fields, status and priority. */
  val RowBytes = 5 * 8 + 1 + 8
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
}

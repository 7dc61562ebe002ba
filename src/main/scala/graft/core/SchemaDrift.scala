package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Schema-on-read over independently written shard files — the reference's
  * contract (parqueryd/worker.py:381-397, README.md:25-28): shard sets
  * drift over time (a column added by a new producer, an int widened to
  * long) and a query over the union must still answer.
  *
  * The schema is resolved on the driver without a Spark job: a file stands
  * for itself, a directory for its data files (`_`/`.` names skipped, as in
  * Spark's listing). Each file's footer alone is read on ≤32 daemon threads
  * and converted by Spark's own footer reader (its row metadata keeps
  * timestamp and decimal types exact); the schemas fold through the lattice
  * below into ONE explicit read schema, which Spark 4's Parquet reader
  * upcasts to per file (absent columns read null): a single FileSourceScan,
  * no per-shard unions at 100k shards. The sweep's deadline
  * (`graft.drift.footerSweepTimeoutSec`, default 1 s per file, 10 min floor,
  * so an honest 100k-file sweep fits) turns a read hung on degraded storage
  * into an error instead of a wedged driver.
  *
  * Widening lattice (both engines' SQL semantics agree with it):
  * byte < short < int < long; float < double; any integral ⊔ any
  * fractional = double (never float — int32 doesn't fit float exactly).
  * Decimals widen to max integral digits + max scale. Equal types pass
  * through; anything else (string vs int) is real corruption and raises a
  * typed error naming the field.
  */
object SchemaDrift {

  final class SchemaDriftException(msg: String) extends IllegalArgumentException(msg)

  /** Read a drifting shard set (files or directories) as one DataFrame. */
  def readSharded(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "readSharded needs at least one path")
    val conf = spark.sparkContext.hadoopConfiguration
    readListed(spark, paths.map(p => new Path(p)).map(p => p.getFileSystem(conf).getFileStatus(p)))
  }

  /** [[readSharded]] over roots the caller already listed (GroupByEngine.pruneMissing). */
  private[graft] def readListed(spark: SparkSession, roots: Seq[FileStatus]): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter { c =>
        val n = c.getPath.getName
        !n.startsWith(".") && (!n.startsWith("_") || n.contains("=")) // `_c=1` partition dirs stay
      }.flatMap(dataFiles(fs, _))
    val files = roots.flatMap(r => dataFiles(r.getPath.getFileSystem(conf), r)).distinctBy(_.getPath)
    if (files.isEmpty)
      throw new SchemaDriftException(s"no Parquet data files under ${roots.map(_.getPath).mkString(", ")}")
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val deadline = spark.conf.getOption("graft.drift.footerSweepTimeoutSec")
      .map(_.toLong).getOrElse(math.max(600L, files.size.toLong)).seconds
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(32, files.size),
      (r: Runnable) => { val t = new Thread(r, "graft-drift-footer"); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val schemas = try Await.result(Future.traverse(files) { f =>
      Future(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath,
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)), converter))
    }, deadline) catch {
      case _: java.util.concurrent.TimeoutException => throw new SchemaDriftException(
        s"schema-drift footer sweep over ${files.size} files exceeded $deadline " +
          "(degraded storage?) — retry, raise graft.drift.footerSweepTimeoutSec, " +
          "or pass an explicit schema")
    } finally pool.shutdownNow()
    spark.read.schema(schemas.reduce(widen)).parquet(roots.map(_.getPath.toString): _*)
  }

  /** Union of fields (first-seen order), types widened; all nullable —
    * a field absent from any shard is null there by contract. */
  private[graft] def widen(a: StructType, b: StructType): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { fa =>
      bByName.get(fa.name) match {
        case Some(fb) => fa.copy(dataType = widenType(fa.name, fa.dataType, fb.dataType), nullable = true)
        case None     => fa.copy(nullable = true)
      }
    }
    val aNames = a.fieldNames.toSet
    val added = b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true))
    StructType(merged ++ added)
  }

  private[graft] def widenType(field: String, a: DataType, b: DataType): DataType = (a, b) match {
    case _ if a == b => a
    case (x, y) if integral(x) && integral(y) =>
      if (rank(x) >= rank(y)) x else y
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (x, y) if (integral(x) && fractional(y)) || (fractional(x) && integral(y)) =>
      DoubleType // never float: int32 doesn't fit float exactly
    // date ⊔ timestamp = timestamp_ntz (midnight expansion): the common
    // producer drift when an upstream starts carrying time-of-day on a date
    // column. NTZ specifically — Spark's Parquet reader upcasts INT32 date
    // only to TimestampNTZ, never to LTZ, and an LTZ-written shard reads
    // under an NTZ target as its UTC wall clock (sessions here pin
    // session.timeZone=UTC, so instants are preserved verbatim).
    case (DateType, t) if timestampLike(t) => TimestampNTZType
    case (t, DateType) if timestampLike(t) => TimestampNTZType
    case (x: DecimalType, y: DecimalType) =>
      val intDigits = math.max(x.precision - x.scale, y.precision - y.scale)
      val scale = math.max(x.scale, y.scale)
      DecimalType(math.min(DecimalType.MAX_PRECISION, intDigits + scale), scale)
    case (x: ArrayType, y: ArrayType) =>
      ArrayType(widenType(field, x.elementType, y.elementType), containsNull = true)
    case (x: StructType, y: StructType) => widen(x, y)
    case _ =>
      throw new SchemaDriftException(
        s"shard schema conflict on field '$field': ${a.sql} vs ${b.sql} is not a widening")
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true; case _ => false
  }
  private def fractional(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true; case _ => false
  }
  private def timestampLike(t: DataType): Boolean = t match {
    case TimestampType | TimestampNTZType => true; case _ => false
  }
  private def rank(t: DataType): Int = t match {
    case ByteType => 1; case ShortType => 2; case IntegerType => 3; case LongType => 4
    case _ => 0
  }
}

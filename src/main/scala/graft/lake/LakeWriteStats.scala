package graft.lake

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.sql.{DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, MutableProjection, RowOrdering}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** What every file of one lake write reports about itself, measured on
  * the rows as they are written (the reference gathers its per-file
  * stats during the write the same way, data_file_stats.c).
  *
  *   - `nullCounted`: the leading data columns whose nulls are counted;
  *   - `ranges`: expressions bound to the written row whose per-file
  *     min/max are kept (stat-able columns, partition transforms);
  *   - `countBy`: a string column whose rows are counted per value
  *     (the target data file of a position-delete row).
  */
private[lake] final case class WriteStatsSpec(nullCounted: Int,
    ranges: Seq[Expression], countBy: Option[Int] = None)

/** One written file's results, keyed by its path relative to the
  * write's output directory. `low`/`high` hold Catalyst values, one per
  * [[WriteStatsSpec.ranges]] entry (null when every value was null).
  */
private[lake] final case class FileReport(path: String, rows: Long,
    nulls: Array[Long], low: Array[Any], high: Array[Any],
    perValue: Map[String, Long])

/** Parquet, plus a per-file statistics report from every writer a
  * registered lake write opens ([[LakeWriteStats.save]]). Spark's
  * `WriteJobStatsTracker` hook — the one Delta Lake's
  * `DeltaJobStatisticsTracker` uses — is only reachable by calling
  * `FileFormatWriter.write` directly, and a `DataFrameWriter` save
  * hard-codes its basic tracker. This format keeps the write a normal
  * `DataFrameWriter` execution (so `Observation`s riding the plan still
  * deliver) and drives the same per-file lifecycle from its writer
  * factory: `newInstance` opens a file, `write` sees each row, `close`
  * reports.
  */
final class LakeParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType)
      : OutputWriterFactory = {
    val inner = super.prepareWrite(spark, job, options, dataSchema)
    val dir = new Path(job.getConfiguration.get(FileOutputFormat.OUTDIR))
    LakeWriteStats.pendingFor(dir.getName)
      .fold(inner)(p => new StatsWriterFactory(inner, p._1, p._2))
  }
}

/** Results travel in an accumulator: Spark merges an accumulator update
  * only from the attempt that completed its partition (a failed attempt
  * and one denied the commit contribute nothing), so every report
  * names a committed file.
  */
private final class StatsWriterFactory(inner: OutputWriterFactory,
    spec: WriteStatsSpec, acc: CollectionAccumulator[FileReport])
    extends OutputWriterFactory {

  // one projection per task, shared by the task's files (a task writes
  // its files one after another)
  @transient private lazy val project: MutableProjection =
    MutableProjection.create(spec.ranges)

  override def getFileExtension(ctx: TaskAttemptContext): String =
    inner.getFileExtension(ctx)

  override def newInstance(path: String, dataSchema: StructType,
      ctx: TaskAttemptContext): OutputWriter = {
    val out = inner.newInstance(path, dataSchema, ctx)
    val stats = new FileStats(spec, if (spec.ranges.isEmpty) null else project)
    val rel = LakeWriteStats.relativePath(path, ctx)
    new OutputWriter {
      override def write(row: InternalRow): Unit = {
        stats.add(row)
        out.write(row)
      }
      override def close(): Unit = {
        out.close()
        acc.add(stats.report(rel))
      }
      override def path(): String = out.path()
    }
  }
}

/** Running results of one file. Comparisons are strict, so the first of
  * equal values stays (0.0 and -0.0 compare equal), NaN sorts above
  * every number — Spark's own min/max semantics.
  */
private final class FileStats(spec: WriteStatsSpec, project: MutableProjection) {
  private val types = spec.ranges.map(_.dataType).toArray
  private val get = types.map(InternalRow.getAccessor(_, nullable = false))
  private val ord = types.map(TypeUtils.getInterpretedOrdering)
  private val nulls = new Array[Long](spec.nullCounted)
  private val low = new Array[Any](types.length)
  private val high = new Array[Any](types.length)
  private val perValue = new java.util.HashMap[UTF8String, java.lang.Long]
  private var rows = 0L

  private def keep(v: Any): Any = v match {
    case d: Decimal => d.clone()
    case o => InternalRow.copyValue(o)
  }

  def add(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < nulls.length) {
      if (row.isNullAt(i)) nulls(i) += 1
      i += 1
    }
    if (project != null) {
      val r = project(row)
      var j = 0
      while (j < types.length) {
        if (!r.isNullAt(j)) {
          val v = get(j)(r, j)
          if (low(j) == null || ord(j).lt(v, low(j))) low(j) = keep(v)
          if (high(j) == null || ord(j).gt(v, high(j))) high(j) = keep(v)
        }
        j += 1
      }
    }
    spec.countBy.foreach { c =>
      if (!row.isNullAt(c)) {
        val k = row.getUTF8String(c)
        val n = perValue.get(k)
        if (n == null) perValue.put(k.copy(), 1L)
        else perValue.put(k, n + 1)
      }
    }
  }

  def report(rel: String): FileReport =
    FileReport(rel, rows, nulls, low, high,
      perValue.asScala.map { case (k, n) => k.toString -> n.longValue }.toMap)
}

object LakeWriteStats {

  private val pending = new ConcurrentHashMap[String,
    (WriteStatsSpec, CollectionAccumulator[FileReport])]()

  private[lake] def pendingFor(dirName: String)
      : Option[(WriteStatsSpec, CollectionAccumulator[FileReport])] =
    Option(pending.get(dirName))

  /** Save `w` as parquet under `dir` (a fresh directory) and return every
    * written file's report, keyed by its path relative to `dir`. The
    * directory's name keys the registration that [[LakeParquetFormat]]
    * looks up, so it must be unique (lake writes use a UUID). Local
    * files and directories get their permissions without a process
    * ([[NioLocalFileSystem]]).
    */
  private[lake] def save(spark: SparkSession, w: DataFrameWriter[Row],
      dir: String, spec: WriteStatsSpec): Map[String, FileReport] = {
    val acc = new CollectionAccumulator[FileReport]
    spark.sparkContext.register(acc)
    val key = new Path(dir).getName
    require(pending.putIfAbsent(key, (spec, acc)) == null,
      s"a lake write into $key is already running")
    try w.options(NioLocalFileSystem.writerOptions)
      .format(classOf[LakeParquetFormat].getName).save(dir)
    finally pending.remove(key)
    acc.value.asScala.map(r => r.path -> r).toMap
  }

  /** The files under `dir` with their sizes and reports; zero-row files
    * (Spark writes one for an empty input) are left out. A listed file
    * without a report means the write bypassed the tracker: refused,
    * since committing it would commit wrong statistics.
    */
  private[lake] def written(dir: String, reports: Map[String, FileReport])
      : Seq[(String, Long, FileReport)] = {
    val prefix = LakeFs.pathKey(dir).stripSuffix("/") + "/"
    LakeFs.listFilesRecursive(dir, ".parquet").flatMap { case (p, bytes) =>
      val r = reports.getOrElse(LakeFs.pathKey(p).stripPrefix(prefix),
        throw new IllegalStateException(s"no write statistics for $p"))
      if (r.rows == 0) None else Some((p, bytes, r))
    }
  }

  /** A task writes under its attempt directory
    * (`<dir>/_temporary/0/_temporary/<attempt>/...`), which job commit
    * moves to `<dir>/...`; what follows the attempt directory is the
    * committed path relative to `<dir>`, partition directories
    * included.
    */
  private[lake] def relativePath(path: String, ctx: TaskAttemptContext): String = {
    val marker = "/" + ctx.getTaskAttemptID.toString + "/"
    val i = path.lastIndexOf(marker)
    if (i >= 0) path.substring(i + marker.length)
    else {
      val out = new Path(ctx.getConfiguration.get(FileOutputFormat.OUTDIR))
        .toUri.getPath.stripSuffix("/") + "/"
      new Path(path).toUri.getPath.stripPrefix(out)
    }
  }

  /** Column types that carry min/max stats. */
  private[lake] def ranged(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType | _: BinaryType => false
    case CalendarIntervalType => false
    case _ => RowOrdering.isOrderable(dt)
  }

  /** A stat value as the string pruning re-types: Spark's cast to
    * string in the session time zone.
    */
  private[lake] def render(v: Any, dt: DataType, timeZone: String)
      : Option[String] =
    Option(v).map(x =>
      Cast(Literal(x, dt), StringType, Some(timeZone)).eval().toString)
}

package graft.lake

import graft.plans.NullAwareIn
import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq,
  BindReferences, BoundReference}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** A managed transactional lake table ("iceberg-lite", SURVEY.md §7 M4):
  * a directory of immutable Parquet data files plus versioned JSON
  * metadata (snapshots, per-file column stats, hidden partition spec,
  * field-id schema evolution). All data movement is Spark jobs; all
  * bookkeeping is O(metadata).
  *
  * Layout:
  * {{{
  *   <location>/_meta/v1.json, v2.json, ..., current
  *   <location>/data/<commit-uuid>/part-*.parquet
  * }}}
  *
  * Write path (reference: engineering-notes/writes.md, writable_table.c):
  * partitioned tables fan rows out by their transform values, one file
  * per partition tuple, in one pass when the caller bounds the rows
  * within the fan-out cap; otherwise one exact, capped count of the
  * tuples comes first (and packs them into contiguous buckets when
  * fewer files are asked for). Files are immutable parquet; every file
  * reports its own stats while it is written ([[LakeWriteStats]]) and
  * gets its permissions without a `chmod` process
  * ([[NioLocalFileSystem]]); then a new snapshot commits via the
  * optimistic metadata CAS. Readers resolve `current` once per scan —
  * snapshot isolation, writers never block readers.
  */
final class LakeTable(val spark: SparkSession, val location: String) {

  /** Engine-transaction overlay ([[TxOverlay]]): when installed and
    * dirty, [[meta]] serves the STAGED metadata (in-transaction reads
    * see the transaction's own writes) and [[commitOp]] advances it in
    * memory — the storage CAS happens once, at the engine's COMMIT.
    * Other LakeTable instances over the same location (external
    * readers) keep reading committed storage and see nothing until
    * then.
    */
  @volatile private[graft] var txOverlay: Option[TxOverlay] = None

  def meta: TableMetadata = txOverlay match {
    case Some(ov) => ov.staged.map(_._2)
      .getOrElse(ov.baseMeta(TableMetadata.load(location)))
    case None => TableMetadata.load(location)
  }

  // ---------------------------------------------------------------- read

  /** Scan the current snapshot; `filter` enables file pruning BEFORE the
    * Spark plan is built (what `spark.read.parquet` alone cannot do: its
    * file list is fixed; parquet row-group skipping still applies on top).
    */
  def scan(filter: Option[Column] = None): DataFrame = {
    val m = meta
    scanSnapshot(m, m.currentSnapshot.map(_.files).getOrElse(Nil), filter)
  }

  def read(): DataFrame = scan(None)

  /** The pruning index behind the most recent [[readIndexed]] view —
    * [[scanReport]] reads its counters after a query runs.
    */
  @volatile private var lastIndex: Option[LakeFileIndex] = None

  /** Current snapshot behind the pruning [[LakeFileIndex]]: filters of
    * ANY later query over this frame (spark.sql on a registered view,
    * DataFrame .filter, joins) prune data files automatically at plan
    * time. Falls back to the per-version projection when metadata-only
    * schema changes left older files behind.
    */
  def readIndexed(): DataFrame = {
    val m = meta
    val hasInterval = m.currentSchema.fields.exists(f =>
      IntervalStorage.isInterval(DataType.fromDDL(f.dataType)))
    if (LakeFileIndex.singleSchemaVersion(m) && !hasInterval &&
        m.currentSnapshot.exists(_.dataFiles.nonEmpty)) {
      val index = new LakeFileIndex(spark, m)
      lastIndex = Some(index)
      val rel = LakeFileIndex.relationFor(spark, m, index)
      val dels = m.currentSnapshot.map(_.deleteFiles).getOrElse(Nil)
      if (dels.isEmpty) rel else {
        // merge-on-read: the anti join sits ABOVE the pruning relation,
        // so file pruning and filter pushdown on the data side survive;
        // the delete rows broadcast (they are small by the CoW
        // threshold's construction)
        val pos = broadcast(readDeletePositions(dels))
        rel.withColumn("__mor_fp",
            RowIds.normalizePath(col("_metadata.file_path")))
          .withColumn("__mor_ri", col("_metadata.row_index"))
          .join(pos, col("__mor_fp") === pos("file_path") &&
            col("__mor_ri") === pos("pos"), "left_anti")
          .drop("__mor_fp", "__mor_ri")
      }
    } else read()
  }

  /** Pruning observability — the reference's EXPLAIN
    * `Data Files Scanned/Skipped` (docs/iceberg-tables.md:365-421) as
    * an API: (files scanned, files skipped) by the LAST query planned
    * against the indexed view. Zero-cost: the counters are set by the
    * planner's own listFiles call.
    */
  def scanReport: (Int, Int) =
    lastIndex.map { i =>
      val (kept, total) = i.lastPruning
      (kept, total - kept)
    }.getOrElse((0, 0))

  /** Time travel (docs/iceberg-tables.md:836-863). */
  def readAsOf(snapshotId: Long): DataFrame = {
    val m = meta
    val snap = m.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    scanSnapshot(m, snap.files, None)
  }

  /** Files kept / total for a predicate — pruning observability, the
    * equivalent of the reference's EXPLAIN `Data Files Scanned/Skipped`.
    */
  def pruneStats(filter: Column): (Int, Int) = {
    val m = meta
    val files = m.currentSnapshot.map(_.dataFiles).getOrElse(Nil)
    val kept = Pruning.keep(m, resolvePredicate(m, filter), files)
    (kept.size, files.size)
  }

  private def resolvePredicate(m: TableMetadata, filter: Column) = {
    // resolve attribute names/types against the current schema by
    // planning a trivial filter over an empty frame; then constant-fold
    // (the analyzer leaves `cast('2024-01-20' as timestamp)` unfolded,
    // and the pruning walker only understands Literal leaves)
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
    val empty = emptyFrame(m.sparkSchema)
    val cond = empty.filter(filter).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition }
      .getOrElse(org.apache.spark.sql.GraftBridge.expression(lit(true)))
    cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[CLit] =>
        CLit.create(e.eval(null), e.dataType)
    }
  }

  private def scanSnapshot(m: TableMetadata, files: Seq[FileEntry],
      filter: Option[Column]): DataFrame = {
    val (dels, data) = files.partition(!_.isData)
    val pruned = filter match {
      case Some(f) => Pruning.keep(m, resolvePredicate(m, f), data)
      case None => data
    }
    val frame = readResolved(m, pruned ++ dels)
    filter.map(frame.filter).getOrElse(frame)
  }

  // ------------------------------------ merge-on-read position deletes

  private val deleteSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  /** Rows of the given position-delete files: (normalized file_path,
    * pos). Written normalized at delete time, so read-side joins
    * compare `RowIds.normalizePath(_metadata.file_path)` directly.
    */
  private def readDeletePositions(dels: Seq[FileEntry]): DataFrame =
    if (dels.isEmpty) emptyFrame(deleteSchema)
    else spark.read.schema(deleteSchema).parquet(dels.map(_.path): _*)

  /** Read a mixed entry list with position deletes APPLIED: data files
    * untouched by any delete file read plain (hot path unchanged);
    * dirty files anti-join their (file, pos) pairs against the
    * broadcast delete rows. All read paths route through here, so a
    * merge-on-read table is indistinguishable from a rewritten one.
    */
  private def readResolved(m: TableMetadata, files: Seq[FileEntry],
      withPos: Boolean = false): DataFrame = {
    val (dels, data) = files.partition(!_.isData)
    if (dels.isEmpty) return readFiles(m, data, withPos)
    val dirtyPaths = dels.flatMap(_.targets).toSet
    val (dirty, clean) = data.partition(f =>
      dirtyPaths.contains(RowIds.normalizePathStr(f.path)))
    val cleanDf = readFiles(m, clean, withPos)
    if (dirty.isEmpty) cleanDf else {
      val src = readFiles(m, dirty, withPos = true)
      val pos = broadcast(readDeletePositions(dels))
      val alive = src.join(pos,
        RowIds.normalizePath(src("__rid_fp")) === pos("file_path") &&
          src("__rid_ri") === pos("pos"), "left_anti")
      val shaped =
        if (withPos) alive else alive.drop("__rid_fp", "__rid_ri")
      if (clean.isEmpty) shaped else cleanDf.unionAll(shaped)
    }
  }

  /** Read a file list, grouping by schema version and projecting every
    * group to the current schema BY FIELD ID (renames are metadata-only;
    * columns added later read as NULL from older files).
    */
  private def readFiles(m: TableMetadata, files: Seq[FileEntry],
      withPos: Boolean = false): DataFrame = {
    val cur = m.currentSchema
    if (files.isEmpty) return emptyFrame(m.sparkSchema)
    files.groupBy(_.schemaVersion).map { case (v, group) =>
      val sv = m.schemaAt(v)
      val physical = TableMetadata.physicalStruct(sv)
      val byId = sv.fields.map(f => f.id -> f).toMap
      val projection = cur.fields.map { cf =>
        val target = DataType.fromDDL(cf.dataType)
        byId.get(cf.id) match {
          case Some(pf) if IntervalStorage.isInterval(target) =>
            org.apache.spark.sql.GraftBridge.column(
              IntervalStorage.StructToInterval(
                org.apache.spark.sql.GraftBridge.expression(col(pf.name))))
              .as(cf.name)
          case Some(pf) => col(pf.name).cast(target).as(cf.name)
          case None => cf.initialDefault
            .map(d => expr(d).cast(target).as(cf.name))
            .getOrElse(lit(null).cast(target).as(cf.name))
        }
      } ++ (if (withPos)
        Seq(col("_metadata.file_path").as("__rid_fp"),
          col("_metadata.row_index").as("__rid_ri"))
      else Nil)
      spark.read.schema(physical).parquet(group.map(_.path): _*)
        .select(projection: _*)
    }.reduce(_ unionAll _)
  }

  /** Table rows plus the stable `_row_id` column (row-ids tables only;
    * reference row_ids.c — ids survive copy-on-write rewrites and
    * compaction). Reconstructed from the metadata range table with a
    * broadcast join on (file, row position) — the materialized column
    * in rewritten files is never needed for reads, it exists for
    * external-reader parity.
    */
  def readWithRowIds(): DataFrame = {
    val m = meta
    require(m.rowIdsEnabled, s"row_ids is not enabled on ${m.name}")
    val files = m.currentSnapshot.map(_.files).getOrElse(Nil)
    readFilesWithRowIds(m, files)
  }

  private def readFilesWithRowIds(m: TableMetadata,
      files: Seq[FileEntry]): DataFrame = {
    val data = files.filter(_.isData)
    if (data.isEmpty)
      return emptyFrame(m.sparkSchema.add(RowIds.Col,
        org.apache.spark.sql.types.LongType))
    RowIds.attachRowIds(spark, readResolved(m, files, withPos = true), data)
  }

  /** The row-id range catalog as a DataFrame
    * (`lake_table.row_id_mappings` equivalent; end-exclusive like the
    * reference's int8range).
    */
  def rowIdMappings: DataFrame = {
    val m = meta
    import spark.implicits._
    m.currentSnapshot.map(_.files).getOrElse(Nil)
      .flatMap(f => f.ranges.map(r => (f.path, r.rowIdStart,
        r.rowIdStart + r.numRows, r.numRows, r.rowNumberStart)))
      .toDF("path", "row_id_start", "row_id_end", "num_rows",
        "row_number_start")
  }

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  // --------------------------------------------------------------- write

  /** Append `df` as a new snapshot. Partitioned tables pack their
    * partition tuples, in sorted order, into contiguous buckets so each
    * file covers a tight value range (what makes the pruning in [[scan]]
    * effective); `targetFiles` sets the file count when the caller knows
    * the data volume.
    */
  def append(df: DataFrame, targetFiles: Option[Int] = None,
      commitProps: Map[String, String] = Map.empty): LakeTable = {
    val m = meta
    val entries = writeData(m, df, targetFiles, planBound(df))
    commitOp("append", commitProps) { cur =>
      cur.currentSnapshot.map(_.files).getOrElse(Nil) ++ entries
    }
    maintainIfDue()
    this
  }

  /** Zero-copy adoption of EXISTING parquet files into this table —
    * the reference's `CALL lake_iceberg.add_files_to_table(tbl,
    * ARRAY[urls])` (test_iceberg_add_table.py): the files are
    * registered in place as a new snapshot, never rewritten or copied.
    * This is THE bulk-migration path at scale — adopting 100 TB of
    * existing parquet costs one footer read per file, not a rewrite,
    * and the footer reads run as a DISTRIBUTED Spark job over the
    * path list (schema and row count from the same open), so a
    * thousand-file adoption validates in parallel instead of a serial
    * driver loop.
    *
    * Validation is loud, up front, and per file: parquet only (the
    * reference rejects csv/json by extension the same way), every
    * current-schema column must exist in the file with a same-or-
    * upcastable type (a silent `cast` of an incompatible column would
    * null it out), and a file already in the table refuses (the
    * reference's pkey on table/file_path). Adopted entries carry the
    * footer's true row count but no min/max stats — pruning treats
    * stat-less files as always-keep, so scans stay correct and the
    * first VACUUM rewrite re-establishes stats. Refused on row_ids
    * tables (ranges would need assignment) and partitioned tables
    * (adopted files have no partition tuple), both loudly.
    */
  def addFiles(paths: Seq[String]): LakeTable = {
    require(paths.nonEmpty, "no files to add")
    val m0 = meta
    require(!m0.rowIdsEnabled,
      "add_files_to_table on a row_ids table is currently not supported")
    require(m0.transforms.isEmpty,
      "add_files_to_table on a partitioned table is currently not " +
        "supported (adopted files carry no partition tuple)")
    paths.foreach(p => require(p.toLowerCase.endsWith(".parquet"),
      s"add_files_to_table only accepts parquet files, got: $p"))
    // DISTRIBUTED validation: a Spark job over the path list opens ONE
    // footer per file, supplying BOTH schema and row count — a
    // million-file migration validates in parallel on the executors,
    // not as an O(files) serial driver loop with a datasource
    // resolution per file. Errors stay loud and collect across the
    // whole list; nothing commits if ANY file fails.
    val serConf = org.apache.spark.sql.GraftBridge.serializableConf(
      org.apache.spark.sql.GraftBridge.sessionHadoopConf(spark))
    val wantJson = m0.sparkSchema.fields
      .map(f => (f.name, f.dataType.json)).toSeq
    val slices = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism * 4))
    val results: Map[String, Either[String, (Long, Long)]] =
      spark.sparkContext.parallelize(paths, slices).map { p =>
        val conf = serConf.value
        try {
          val hPath = new org.apache.hadoop.fs.Path(p)
          val fs = hPath.getFileSystem(conf)
          if (!fs.exists(hPath)) p -> Left(s"no such file: $p")
          else {
            val bytes = fs.getFileStatus(hPath).getLen
            val (rows, msgType) = LakeTable.withFooter(p, conf)(r =>
              (r.getRecordCount, r.getFooter.getFileMetaData.getSchema))
            val fileSchema = org.apache.spark.sql.GraftBridge
              .parquetSchemaToSpark(msgType, conf)
            val byName = fileSchema.fields
              .map(f => f.name.toLowerCase -> f).toMap
            val errs = wantJson.flatMap { case (name, typeJson) =>
              val want = org.apache.spark.sql.types.DataType
                .fromJson(typeJson)
              byName.get(name.toLowerCase) match {
                case None => Some(
                  s"file $p lacks column $name required by the table " +
                    "schema")
                case Some(ff)
                    if ff.dataType != want &&
                      !org.apache.spark.sql.GraftBridge
                        .canUpCast(ff.dataType, want) => Some(
                  s"file $p column $name: ${ff.dataType.simpleString}" +
                    s" cannot be safely read as ${want.simpleString}")
                case _ => None
              }
            }
            if (errs.nonEmpty) p -> Left(errs.mkString("; "))
            else p -> Right((rows, bytes))
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            p -> Left(s"file $p failed validation: ${e.getMessage}")
        }
      }.collect().toMap
    val errors = paths.flatMap(p => results(p).left.toOption)
    if (errors.nonEmpty)
      throw new IllegalArgumentException(errors.mkString("\n"))
    val entries = paths.map { p =>
      val (rows, bytes) = results(p).toOption.get
      FileEntry(p, rows, bytes, m0.currentSchemaVersion,
        Map.empty, Map.empty)
    }
    commitOp("add-files") { curM =>
      val existing = curM.currentSnapshot.map(_.files).getOrElse(Nil)
      val have = existing.map(f => RowIds.normalizePathStr(f.path)).toSet
      entries.foreach(e => require(
        !have.contains(RowIds.normalizePathStr(e.path)),
        s"file already belongs to the table: ${e.path}"))
      existing ++ entries
    }
    this
  }

  /** Merge the current snapshot's manifest refs per table policy
    * (`manifest_min_count_to_merge` default 100,
    * `target_manifest_size_kb` default 8192 — the reference's GUC
    * defaults, manifest_merge.h:28-31). Safe to call any time;
    * no-ops below the threshold.
    */
  def mergeManifests(): Boolean = {
    val p = meta.properties
    TableMetadata.mergeManifests(location,
      p.getOrElse("manifest_min_count_to_merge", "100").trim.toInt,
      p.getOrElse("target_manifest_size_kb", "8192").trim.toLong * 1024L)
  }

  /** Ride-along autovacuum for batch tables: the reference runs a
    * background worker that compacts every table on a timer
    * (pg_lake_table/src/ddl/vacuum.c:108 `pg_lake_iceberg_vacuum`,
    * `autovacuum_enabled` table option :346 — default ON). Spark has
    * no resident worker, so the trigger rides the write path instead:
    * once `autovacuum_commit_interval` commits (default 16, `<= 0`
    * disables) have accumulated since the last compaction, the
    * appending writer folds small files + outstanding merge-on-read
    * state before returning. Stateless by construction — the counter
    * is the snapshot log itself — so concurrent appenders can both
    * decide "due" and race into [[compact]], which is CAS-guarded and
    * retrying (at worst one of them no-ops). Respects the reference's
    * `autovacuum_compact_data_files=false` (skip the data-file rewrite
    * but keep the table checked), while manual [[vacuum]] always
    * compacts, mirroring the heap-level storage parameter.
    */
  def maintainIfDue(): LakeTable = {
    // inside an engine transaction maintenance never fires: compaction
    // and expiry rewrite COMMITTED state, which a staged transaction
    // must not touch (the reference's autovacuum worker likewise never
    // sees uncommitted metadata ops)
    if (txOverlay.exists(_.dirty)) return this
    val m = meta
    val p = m.properties
    // manifest merge-on-write (reference
    // enable_manifest_merge_on_write default true): cheap count check
    // per commit, a real merge only past min-count
    if (LakeTable.pgBool(
        p.getOrElse("enable_manifest_merge_on_write", "true"),
        "enable_manifest_merge_on_write"))
      try mergeManifests()
      catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"manifest merge of $location failed: $e")
      }
    val enabled = LakeTable.pgBool(
      p.getOrElse("autovacuum_enabled", "true"), "autovacuum_enabled")
    val every = p.getOrElse("autovacuum_commit_interval", "16").trim.toInt
    if (enabled && every > 0) {
      val since = m.snapshots.reverse.iterator
        .takeWhile(_.operation != "compact").size
      if (since >= every && LakeTable.pgBool(
        p.getOrElse("autovacuum_compact_data_files", "true"),
        "autovacuum_compact_data_files"))
        // the append that tripped the trigger has already committed —
        // a maintenance failure must warn, never fail the foreground
        // write (the reference's worker wraps each vacuum the same
        // way, END_TRANSACTION_NO_THROW(WARNING))
        try compact()
        catch { case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"ride-along compaction of $location failed: $e")
        }
    }
    // auto-expire old snapshots during writes when the effective
    // max_snapshot_age is 0 (reference
    // track_iceberg_metadata_changes.c:956-964 — only the 0 setting
    // triggers on the write path; non-zero ages apply at VACUUM)
    try {
      if (effectiveMaxSnapshotAgeSecs == 0 && meta.snapshots.size > 1)
        expireSnapshotsByAge(0)
    } catch { case scala.util.control.NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"ride-along snapshot expiry of $location failed: $e")
    }
    this
  }

  /** Exactly-once incremental file ingestion — the pg_incremental
    * pattern the reference documents for log pipelines
    * (docs/use-case-log-management.md: "bookkeeping of the processed
    * files is done in the same transaction as the command"): list the
    * glob, subtract what this pipeline already ingested, append only
    * the new files' rows via `reader`, and record those files in the
    * SAME atomic commit. A crash between write and commit leaves
    * orphaned data files (swept by vacuum) and re-processes the batch
    * on the next run — never a double append.
    *
    * Bookkeeping is chunked like the manifest split: each batch writes
    * one immutable `_meta/ingest-<pipeline>-<uuid>.json` holding just
    * its file list, and the commit appends the chunk name to the
    * `ingest.<pipeline>.chunks` property — commits stay O(batch) at any
    * pipeline age. The chunk-list merge runs inside the commit CAS and
    * aborts (retrying the whole batch against fresh state) if a racing
    * ingest of the same pipeline claimed an overlapping file, so each
    * file's rows land exactly once even under concurrent runners.
    *
    * Returns the files ingested this run (empty when up to date).
    */
  def ingestFiles(pattern: String, pipeline: String = "default")
      (reader: Seq[String] => DataFrame): Seq[String] =
      retryOnConflict("ingest") {
    val key = s"ingest.$pipeline.chunks"
    def chunksOf(p: Map[String, String]): Seq[String] =
      p.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    def readChunk(name: String): Seq[String] =
      new String(LakeFs.readAllBytes(
        LakeFs.child(TableMetadata.metaDir(location), name)),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq
    val baseChunks = chunksOf(meta.properties)
    val processed = baseChunks.flatMap(readChunk).toSet
    val hPath = new org.apache.hadoop.fs.Path(pattern)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = Option(fs.globStatus(hPath)).getOrElse(Array.empty)
      .map(_.getPath.toString).toSeq.sorted
    val fresh = listed.filterNot(processed)
    if (fresh.isEmpty) Seq.empty
    else {
      // chunk file first: immutable, content-complete — an abort after
      // this write orphans the chunk (unreferenced, harmless), never
      // corrupts the processed set
      val chunkName = s"ingest-$pipeline-${java.util.UUID.randomUUID()}.json"
      val dir = TableMetadata.metaDir(location)
      LakeFs.mkdirs(dir)
      LakeFs.writeAtomic(LakeFs.child(dir, chunkName),
        fresh.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      val m = meta
      val entries = writeData(m, reader(fresh), None, None)
      val freshSet = fresh.toSet
      commitOp("ingest", mergeProps = p => {
        val now = chunksOf(p)
        val racedOverlap = now.diff(baseChunks)
          .flatMap(readChunk).exists(freshSet)
        if (racedOverlap)
          throw new java.util.ConcurrentModificationException(
            s"ingest pipeline '$pipeline' raced on overlapping files")
        p.updated(key, (now :+ chunkName).mkString(","))
      }) { cur => cur.currentSnapshot.map(_.files).getOrElse(Nil) ++ entries }
      fresh
    }
  }

  /** Copy-on-write DELETE (writes.md:15-44): files whose stats prove
    * every row matches are dropped metadata-only (full-partition fast
    * path, docs/iceberg-tables.md:221-224); files that may contain
    * matches are rewritten without the matching rows; untouched files
    * carry over. Returns the number of rows deleted.
    */
  def delete(pred: Column): Long = retryOnConflict("delete") {
    val m = meta
    val snapFiles = m.currentSnapshot.map(_.files).getOrElse(Nil)
    val (removed, added, n) = removeRows(m, pred, snapFiles)
    if (n > 0 || removed.nonEmpty)
      commitMerge("delete", removed, added)
    n
  }

  /** Shared row-removal planner for DELETE and the delete half of
    * UPDATE (reference writable_table.c ApplyDeleteFile). Per matched
    * file it picks MERGE-ON-READ (write (file, pos) rows into a
    * position-delete file, keep the data file — the 100 TB default:
    * deleting 3 rows must not rewrite gigabytes) or COPY-ON-WRITE
    * (rewrite survivors) by the reference's two knobs, as table
    * properties:
    *   - `copy_on_write_threshold` (percent, default 20): once a
    *     file's TOTAL deleted fraction (existing position deletes +
    *     this op) reaches it, rewriting is cheaper than carrying the
    *     delete rows. 0 = always copy-on-write, 100 = always
    *     merge-on-read.
    *   - `copy_on_write_max_delete_rows` (default 10M, -1 disables):
    *     once this op has accumulated that many position-deleted rows,
    *     remaining files switch to copy-on-write.
    * Returns (paths to remove incl. consumed delete files, entries to
    * add, rows removed).
    */
  private def removeRows(m: TableMetadata, pred: Column,
      snapFiles: Seq[FileEntry]): (Set[String], Seq[FileEntry], Long) = {
    val (dels, files) = snapFiles.partition(!_.isData)
    val resolved = resolvePredicate(m, pred)
    val classified = Pruning.classify(m, resolved, files)
    val dropped = classified.collect { case (f, Pruning.Full) => f }
    val partial = classified.collect { case (f, Pruning.Partial) => f }

    def norm(f: FileEntry) = RowIds.normalizePathStr(f.path)

    // ONE scan of the partial candidates writes every matched (file,
    // pos) pair to a position-delete batch; the per-file counts that
    // drive MoR-vs-CoW classification are reported by the batch's own
    // write
    val posEntries: Seq[FileEntry] =
      if (partial.isEmpty) Nil
      else {
        val posDf = NullAwareIn.frame(
          readResolved(m, partial ++ dels, withPos = true)
            .filter(coalesce(pred, lit(false)))
            .select(RowIds.normalizePath(col("__rid_fp")).as("file_path"),
              col("__rid_ri").as("pos")))
        writeDeleteEntries(m, posDf, partial.map(norm))
      }
    // per-file position counts: this op's batch from its write, the
    // EXISTING delete files from their metadata — a file with one
    // target holds only that target's rows; only a legacy entry with
    // several targets and no per-target counts is counted by a job
    // (delete files are threshold-bounded small)
    def sumByFile(counts: Seq[(String, Long)]): Map[String, Long] =
      counts.groupMapReduce(_._1)(_._2)(_ + _)
    val matched = sumByFile(posEntries.flatMap(_.targetRows.toSeq.flatten))
    val (known, uncounted) = dels.partition(d =>
      d.targetRows.isDefined || d.targets.size == 1)
    val existing = sumByFile(known.flatMap(d =>
      d.targetRows.getOrElse(Map(d.targets.head -> d.rows))) ++
      (if (uncounted.isEmpty) Nil
      else readDeletePositions(uncounted).groupBy("file_path").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq))
    def already(f: FileEntry): Long = existing.getOrElse(norm(f), 0L)

    // object-store-catalog tables re-export Iceberg metadata on every
    // commit and we don't emit v2 delete manifests — force copy-on-write
    val thresholdPct =
      if (m.properties.get("iceberg.export").contains("true")) 0
      else m.properties.getOrElse("copy_on_write_threshold", "20").toInt
    val maxDeleteRows = m.properties
      .getOrElse("copy_on_write_max_delete_rows", "10000000").toLong

    val fullAtRuntime = scala.collection.mutable.Buffer.empty[FileEntry]
    val morFiles = scala.collection.mutable.Buffer.empty[FileEntry]
    val cowFiles = scala.collection.mutable.Buffer.empty[FileEntry]
    var accumulated = 0L
    partial.foreach { f =>
      val hit = matched.getOrElse(norm(f), 0L)
      if (hit > 0) {
        val deletedAfter = already(f) + hit
        val overCap = maxDeleteRows >= 0 && accumulated >= maxDeleteRows
        if (deletedAfter >= f.rows) fullAtRuntime += f
        else if (deletedAfter * 100 >= f.rows * thresholdPct || overCap)
          cowFiles += f
        else { morFiles += f; accumulated += hit }
      }
    }

    // merge-on-read half: keep the batch when classification is pure
    // MoR; a MIXED op re-filters it to the MoR targets (a tiny job over
    // the small delete parquet, not a candidate re-scan) so entry row
    // counts — which drive the live-row accounting — stay exact. A
    // pure-CoW op discards the batch.
    def discard(entries: Seq[FileEntry]): Unit = entries.foreach(e =>
      try LakeFs.deleteIfExists(e.path) catch {
        case _: Exception => ()
      })
    val morEntries: Seq[FileEntry] =
      if (morFiles.isEmpty) { discard(posEntries); Nil }
      else if (fullAtRuntime.isEmpty && cowFiles.isEmpty)
        posEntries.map(_.copy(deleteTargets = morFiles.toSeq.map(norm)))
      else {
        val morNorm = morFiles.toSeq.map(norm)
        val filtered = writeDeleteEntries(m,
          readDeletePositions(posEntries)
            .filter(col("file_path").isin(morNorm: _*)), morNorm)
        discard(posEntries)
        filtered
      }

    // copy-on-write half: survivors rewritten (existing deletes
    // applied); row-ids survive through the materialized column
    val rewritten: Seq[FileEntry] =
      if (cowFiles.isEmpty) Nil
      else {
        val keepDf = NullAwareIn.frame((if (m.rowIdsEnabled)
          readFilesWithRowIds(m, cowFiles.toSeq ++ dels)
        else readResolved(m, cowFiles.toSeq ++ dels))
          .filter(!coalesce(pred, lit(false))))
        val entries = writeData(m, keepDf, None,
          Some(cowFiles.map(_.rows).sum),
          extraCols = if (m.rowIdsEnabled) Seq(RowIds.Col) else Nil)
        if (m.rowIdsEnabled) RowIds.attachDerived(entries,
          RowIds.deriveRanges(spark, entries.map(_.path)))
        else entries
      }

    val removedEntries = dropped ++ fullAtRuntime ++ cowFiles
    val removedNorm = removedEntries.map(norm).toSet
    val liveNorm = files.map(norm).toSet -- removedNorm
    // delete files whose every target is gone (now, or dangling from an
    // earlier rewrite) fold away with the op
    val consumed = dels.filter(_.targets.forall(t => !liveNorm.contains(t)))
    val consumedPaths = consumed.map(_.path).toSet
    // retained batches referencing ANY dead target shrink to their live
    // rows (a tiny job over the small delete parquet, not a candidate
    // re-scan) so entry row counts — the live-row accounting — stay
    // exact instead of carrying stale positions until compaction
    val toShrink = dels.filterNot(d => consumedPaths.contains(d.path))
      .filter(_.targets.exists(t => !liveNorm.contains(t)))
    val shrunk = toShrink.flatMap { d =>
      val liveTargets = d.targets.filter(liveNorm.contains)
      writeDeleteEntries(m, readDeletePositions(Seq(d))
        .filter(col("file_path").isin(liveTargets: _*)), liveTargets)
    }
    val deletedRows = dropped.map(f => f.rows - already(f)).sum +
      (fullAtRuntime ++ morFiles ++ cowFiles)
        .map(f => matched.getOrElse(norm(f), 0L)).sum
    (removedEntries.map(_.path).toSet ++ consumedPaths ++
      toShrink.map(_.path),
      rewritten ++ morEntries ++ shrunk, deletedRows)
  }

  /** Write position-delete rows as parquet and return their content=1
    * entries; each file reports its rows per target data file while it
    * is written.
    */
  private def writeDeleteEntries(m: TableMetadata, posDf: DataFrame,
      targets: Seq[String]): Seq[FileEntry] = {
    val dir = LakeFs.child(location, "data/del-" + UUID.randomUUID())
    val reports = LakeWriteStats.save(spark, posDf.write.mode("errorifexists"),
      dir, WriteStatsSpec(0, Nil, countBy = Some(0)))
    LakeWriteStats.written(dir, reports).map { case (p, bytes, r) =>
      FileEntry(p, r.rows, bytes, m.currentSchemaVersion,
        Map.empty, Map.empty, Nil, content = 1, deleteTargets = targets,
        deleteTargetRows = r.perValue)
    }
  }

  /** UPDATE = the delete half (merge-on-read position deletes or
    * copy-on-write survivor rewrite, per [[removeRows]]'s thresholds)
    * plus an append of the assigned rows as NEW files — exactly the
    * reference FDW's delete-file + insert-file shape
    * (writable_table.c). An updated row is therefore a new row
    * version; on row-ids tables it draws a fresh id from the commit
    * hook while survivors keep theirs. Returns the rows updated.
    */
  def update(pred: Column, assignments: Map[String, Column]): Long =
      retryOnConflict("update") {
    val m = meta
    val snapFiles = m.currentSnapshot.map(_.files).getOrElse(Nil)
    val (dels, files) = snapFiles.partition(!_.isData)
    val resolved = resolvePredicate(m, pred)
    val classified = Pruning.classify(m, resolved, files)
    val candidates = classified.collect { case (f, d) if d != Pruning.Skip => f }
    if (candidates.isEmpty) 0L else {
    val updatedRows = LakeTable.matchedRows(readResolved(m, candidates ++ dels),
      pred, assignments)
    // new row versions first (reads only the immutable old files), then
    // the removal plan; ONE atomic commit covers both halves
    // (the row-ids hook assigns ids; the candidates' rows bound the
    // new rows)
    val fresh = writeData(m, updatedRows, None,
      Some(candidates.map(_.rows).sum))
    val (removed, removedAdds, n) = removeRows(m, pred, snapFiles)
    commitMerge("update", removed, removedAdds ++ fresh)
    n
  } }

  /** Metadata-only truncate (postgresExecForeignTruncate equivalent). */
  def truncate(): LakeTable = { commitOp("truncate")(_ => Nil); this }

  /** Replace the table's contents with `df` in ONE snapshot commit
    * (atomic truncate+insert — readers see either the old or the new
    * file set, never an empty gap).
    */
  def replace(df: DataFrame, targetFiles: Option[Int] = None): LakeTable = {
    val entries = writeData(meta, df, targetFiles, planBound(df))
    commitOp("replace")(_ => entries)
    this
  }

  // ----------------------------------------------------------- maintenance

  /** Compact files smaller than `smallBytes` into ~`targetBytes` files
    * (VACUUM's rewrite half — pg_lake_table/src/ddl/vacuum.c).
    */
  def compact(smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20): LakeTable = retryOnConflict("compact") {
    val m = meta
    val snapFiles = m.currentSnapshot.map(_.files).getOrElse(Nil)
    val (dels, files) = snapFiles.partition(!_.isData)
    // files carrying position deletes compact regardless of size —
    // VACUUM is what folds merge-on-read state back into clean files
    // (the reference's vacuum consumes its delete files the same way)
    val dirty = dels.flatMap(_.targets).toSet
    val small = files.filter(f => f.bytes < smallBytes ||
      dirty.contains(RowIds.normalizePathStr(f.path)))
    if (small.size < 2 && dels.isEmpty) this else {
      val total = small.map(_.bytes).sum
      val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      val rowIds = m.rowIdsEnabled
      val merged = if (rowIds) readFilesWithRowIds(m, small ++ dels)
        else readResolved(m, small ++ dels)
      // clustering-aware: a z-ordered table's compaction re-sorts the
      // merged rows along the recorded curve — a plain repartition
      // would scramble min/max tightness on the clustered columns and
      // silently undo the pruning cluster() bought
      val shaped = m.properties.get("cluster.by") match {
        case Some(cols) if cols.nonEmpty =>
          zorder(m, merged, cols.split(",").toSeq, n)
        case _ if rowIds =>
          // order by _row_id so surviving ids form maximal runs: the
          // range table stays O(delete-holes + files), not O(rows) —
          // the reference gets the same effect by reading input files
          // in order (its ids are position-correlated); a round-robin
          // repartition here would shatter runs into per-row mappings
          merged.repartitionByRange(n, col(RowIds.Col))
            .sortWithinPartitions(RowIds.Col)
        case _ => merged.repartition(n)
      }
      val entries0 = writeData(m, shaped, None, Some(small.map(_.rows).sum),
        extraCols = if (rowIds) Seq(RowIds.Col) else Nil)
      val entries = if (rowIds) RowIds.attachDerived(entries0,
        RowIds.deriveRanges(spark, entries0.map(_.path)))
      else entries0
      // every dirty file is in the rewrite set, so every delete file is
      // fully consumed by this commit
      commitMerge("compact",
        small.map(_.path).toSet ++ dels.map(_.path), entries)
      this
    }
  }

  /** OPTIMIZE ZORDER analogue: rewrite the table's data files with rows
    * ordered along a Z-curve over `cols`, so the per-file min/max
    * stats become tight on EVERY clustered column simultaneously and
    * predicates on any subset of them prune files (linear sort orders
    * only serve their leading column). Numeric/timestamp columns
    * normalize to 16-bit ranks via global min/max (one tiny agg);
    * string columns use a 16-bit hash (equality pruning only — hashing
    * keeps equal values together but not ranges, same trade Delta's
    * ZORDER makes). The rewrite is one range-repartition by z-value +
    * in-partition sort; commit replaces all files atomically.
    */
  def cluster(cols: Seq[String], targetFiles: Int = 16): LakeTable =
    retryOnConflict("cluster") {
      require(cols.nonEmpty && cols.size <= 4,
        "cluster takes 1-4 columns")
      require(meta.partitionSpec.isEmpty,
        "cluster of a partitioned table is not supported; cluster " +
          "before setting a partition spec or use the spec itself")
      val m = meta
      val files = m.currentSnapshot.map(_.files).getOrElse(Nil)
      if (files.isEmpty) this
      else {
        val rowIds = m.rowIdsEnabled
        val src = if (rowIds) readFilesWithRowIds(m, files)
          else readResolved(m, files)
        val ordered = zorder(m, src, cols, targetFiles)
        // row-ids survive the reorder (ids are values, not positions),
        // but the Z-curve scatters consecutive ids across files, so
        // the derived range table fragments toward O(rows) — the same
        // trade the reference makes when clustering a row-ids table
        val entries0 = writeData(m, ordered, None, None,
          extraCols = if (rowIds) Seq(RowIds.Col) else Nil)
        val entries = if (rowIds) RowIds.attachDerived(entries0,
          RowIds.deriveRanges(spark, entries0.map(_.path)))
        else entries0
        // record the curve so compaction keeps the clustering
        commitMerge("cluster", files.map(_.path).toSet, entries,
          Map("cluster.by" -> cols.mkString(",")))
        this
      }
    }

  /** Rows of `df` reordered along the Z-curve over `cols` into
    * `targetFiles` range partitions (shared by [[cluster]] and
    * clustering-aware [[compact]]).
    */
  private def zorder(m: TableMetadata, df: DataFrame, cols: Seq[String],
      targetFiles: Int): DataFrame = {
    val k = cols.size
    val fieldType = m.currentSchema.fields
      .map(f => f.name -> DataType.fromDDL(f.dataType)).toMap
    // 16-bit bucket per column
    val buckets = cols.map { c =>
      fieldType(c) match {
        case _: NumericType | TimestampType | DateType =>
          val row = df.agg(
            min(col(c).cast("double")).as("lo"),
            max(col(c).cast("double")).as("hi")).head()
          val (lo, hi) = (row.getDouble(0), row.getDouble(1))
          if (hi <= lo) lit(0L)
          else least(lit(65535L), floor(
            (col(c).cast("double") - lit(lo)) / lit(hi - lo) * 65535.0)
            .cast("long"))
        case _ => pmod(xxhash64(col(c)), lit(65536L))
      }
    }
    // interleave: bit b of bucket i lands at position b*k + i
    val z = (0 until 16).foldLeft(lit(0L)) { (acc, b) =>
      buckets.zipWithIndex.foldLeft(acc) { case (a, (bk, i)) =>
        a + shiftleft(shiftright(bk, b) % 2, b * k + i)
      }
    }
    df.withColumn("__z", z)
      .repartitionByRange(math.max(1, targetFiles), col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Expire snapshots beyond the latest `keepLast`, then delete data
    * files no retained snapshot references (deletion-queue equivalent,
    * pg_lake_engine/src/cleanup/deletion_queue.c).
    *
    * The live set is computed from the ON-DISK metadata, never from the
    * hydrated value `TableMetadata.commit` returns: for a snapshot that
    * was just migrated from an inline file list, the hydrated view has
    * `manifests = Nil` while the committed v{N}.json references manifests
    * dehydrate wrote during the commit — sweeping from the in-memory
    * view would delete them and leave the table unreadable from any
    * fresh process.
    *
    * `graceMs`: a concurrent writer stages its manifest and data files
    * BEFORE its metadata CAS, so a sweep racing that window would see
    * them as unreferenced. Files younger than the grace period are never
    * deleted (Iceberg's orphan-file retention takes the same approach).
    */
  def expireSnapshots(keepLast: Int = 3,
      graceMs: Long = 10L * 60 * 1000): LakeTable = {
    // PG's rule, same reason: expiry deletes files from COMMITTED
    // state, which a staged transaction cannot reason about
    require(txOverlay.isEmpty,
      "VACUUM cannot run inside a transaction block")
    TableMetadata.commit(location) { curOpt =>
      val cur = curOpt.get
      val keepIds = cur.snapshots.sortBy(-_.id).take(keepLast).map(_.id).toSet +
        cur.currentSnapshotId
      cur.copy(snapshots = cur.snapshots.filter(s => keepIds.contains(s.id)))
    }
    sweepUnreferencedFiles(graceMs)
    this
  }

  /** Age-based snapshot expiry — the reference's retention policy
    * (pg_lake_iceberg/src/iceberg/api/table_metadata.c
    * RemoveOldSnapshotsFromMetadata): snapshots older than `ageSecs`
    * expire, the current snapshot always survives (at least one
    * snapshot is always retained). `ageSecs = 0` keeps only the
    * current snapshot — the expire-on-write setting
    * (test_max_snapshot_age_option.py).
    */
  def expireSnapshotsByAge(ageSecs: Long,
      graceMs: Long = 10L * 60 * 1000): LakeTable = {
    val cutoff = System.currentTimeMillis() - ageSecs * 1000
    TableMetadata.commit(location) { curOpt =>
      val cur = curOpt.get
      val kept = cur.snapshots.filter(s =>
        s.id == cur.currentSnapshotId || s.timestampMs >= cutoff)
      cur.copy(snapshots =
        if (kept.nonEmpty) kept else cur.snapshots.takeRight(1))
    }
    sweepUnreferencedFiles(graceMs)
    this
  }

  /** Per-table option overriding the session GUC
    * `pg_lake_iceberg.max_snapshot_age`, overriding the reference's
    * compiled default of 1800 s
    * (track_iceberg_metadata_changes.c GetEffectiveMaxSnapshotAgeInSecs;
    * init.c DEFAULT_MAX_SNAPSHOT_AGE).
    */
  private[graft] def effectiveMaxSnapshotAgeSecs: Long =
    meta.properties.get("max_snapshot_age").map(_.trim.toLong)
      .orElse(spark.conf.getOption("pg_lake_iceberg.max_snapshot_age")
        .map(_.trim.toLong))
      .getOrElse(LakeTable.DefaultMaxSnapshotAgeSecs)

  /** Sweep files no retained snapshot references (see
    * [[expireSnapshots]]'s doc for why the live set comes from the
    * ON-DISK metadata and why young files are graced).
    */
  private def sweepUnreferencedFiles(graceMs: Long): Unit = {
    val onDisk = TableMetadata.load(location)
    val now = System.currentTimeMillis()
    // TOCTOU guard: a listed candidate can vanish before the stat — a
    // concurrent Spark task commit renames its attempt file away, a
    // racing sweep already deleted it. A vanished (or unstat-able)
    // file is nothing to reclaim: treat it as in-grace and move on.
    def inGrace(p: String): Boolean =
      graceMs > 0 && {
        try now - LakeFs.mtime(p) < graceMs
        catch { case scala.util.control.NonFatal(_) => true }
      }
    val referenced = onDisk.snapshots.flatMap(_.files)
      .map(f => LakeFs.pathKey(f.path)).toSet
    val dataDir = LakeFs.child(location, "data")
    val listed = LakeFs.listFilesRecursive(dataDir).map(_._1)
    val swept = listed.filter(_.endsWith(".parquet"))
      // an in-flight Spark write stages under _temporary until its job
      // commit; those are never committed-then-orphaned files, and
      // deleting one corrupts the writer — out of scope by name
      .filterNot(_.contains("/_temporary/"))
      .filterNot(p => referenced.contains(LakeFs.pathKey(p)))
      .filterNot(inGrace)
    swept.foreach(LakeFs.deleteIfExists)
    // a commit directory left with only its job's `_SUCCESS` marker and
    // local `.<name>.crc` checksums goes once the marker is past the
    // grace; a directory without the marker is a write still in flight
    def checksum(rel: String) = {
      val name = rel.substring(rel.lastIndexOf('/') + 1)
      name.startsWith(".") && name.endsWith(".crc")
    }
    val base = LakeFs.pathKey(dataDir) + "/"
    listed.filterNot(swept.toSet)
      .map(p => LakeFs.pathKey(p).stripPrefix(base).split("/", 2))
      .collect { case Array(dir, rel) => dir -> rel }
      .groupMap(_._1)(_._2)
      .foreach { case (dir, rels) =>
        val commitDir = LakeFs.child(dataDir, dir)
        if (rels.filterNot(checksum) == Seq("_SUCCESS") &&
            !inGrace(LakeFs.child(commitDir, "_SUCCESS")))
          LakeFs.deleteRecursive(commitDir)
      }
    // manifests referenced by no surviving snapshot (expired snapshots,
    // lost CAS races) — same sweep semantics as the data files above
    val liveManifests = TableMetadata.referencedManifests(onDisk)
    val metaDir = TableMetadata.metaDir(location)
    LakeFs.listNames(metaDir)
      .filter(_.startsWith("manifest-"))
      .filterNot(liveManifests.contains)
      .map(LakeFs.child(metaDir, _))
      .filterNot(inGrace)
      .foreach(LakeFs.deleteIfExists)
    // ingest chunks referenced by no pipeline property (batches whose
    // commit aborted or lost its CAS race) — the live set is exactly
    // the union of every ingest.<pipeline>.chunks list
    val liveChunks = onDisk.properties.collect {
      case (k, v) if k.startsWith("ingest.") && k.endsWith(".chunks") =>
        v.split(",").toSeq
    }.flatten.toSet
    LakeFs.listNames(metaDir)
      .filter(_.startsWith("ingest-"))
      .filterNot(liveChunks.contains)
      .map(LakeFs.child(metaDir, _))
      .filterNot(inGrace)
      .foreach(LakeFs.deleteIfExists)
    ()
  }

  def vacuum(smallBytes: Long = 32L << 20, keepLast: Int = 3,
      graceMs: Long = 10L * 60 * 1000): LakeTable = {
    require(txOverlay.isEmpty,
      "VACUUM cannot run inside a transaction block")
    compact(smallBytes)
    expireSnapshots(keepLast, graceMs)
    // the reference's VACUUM also applies the age-based retention
    // policy (test_max_snapshot_age_option.py: VACUUM with
    // max_snapshot_age '0' leaves one snapshot)
    expireSnapshotsByAge(effectiveMaxSnapshotAgeSecs, graceMs)
  }

  /** Set table properties (write-path policies like
    * `out_of_range_values`, export toggles) as a metadata-only commit —
    * the files carry over unchanged, the merge is atomic under the CAS.
    */
  def setProperties(props: Map[String, String]): LakeTable = {
    LakeTable.validateMaintenanceOptions(props)
    // compatibility_mode is immutable after creation (reference
    // test_compatibility_mode.py: SET and ADD both rejected)
    props.get("compatibility_mode").foreach { v =>
      if (!meta.properties.get("compatibility_mode").contains(v))
        throw new IllegalArgumentException(
          "compatibility_mode cannot be changed after the table is created")
    }
    // row_ids routes through its dedicated paths: enabling must assign
    // ranges to existing files; disabling is refused like the
    // reference (alter_table.c: "currently not supported")
    props.get("row_ids") match {
      case Some("true") => enableRowIds()
      case Some(_) if meta.rowIdsEnabled =>
        throw new IllegalArgumentException(
          "disabling row_ids is currently not supported")
      case _ => ()
    }
    val rest = props - "row_ids"
    if (rest.nonEmpty || props.isEmpty)
      commitOp("set-properties", rest)(cur =>
        cur.currentSnapshot.map(_.files).getOrElse(Nil))
    this
  }

  /** Enable stable row ids (`row_ids = 'true'`, reference
    * EnableRowIdsOnTable, row_ids.c:50-82): every existing non-empty
    * file gets one affine range drawn from the sequence, in snapshot
    * order; subsequent writes allocate inside their commit. Idempotent
    * — re-enabling is a no-op, like the reference's `set row_ids
    * 'true'` on an enabled table.
    */
  def enableRowIds(): LakeTable = {
    if (meta.rowIdsEnabled) return this
    commitOp("row_ids", Map("row_ids" -> "true"))(cur =>
      cur.currentSnapshot.map(_.files).getOrElse(Nil))
    this
  }

  /** Import a complete snapshot state staged by an EXTERNAL engine —
    * the REST-catalog commit path (reference rest_catalog_ops.c: the
    * client writes data files + Avro manifests itself, then asks the
    * catalog to swap metadata). The entries replace the current file
    * set (an Iceberg add-snapshot's manifest-list carries full state);
    * the commit is the usual CAS, so external commits serialize with
    * local writers. Metadata-only — the catalog never reads data.
    */
  def importSnapshot(entries: Seq[FileEntry],
      op: String = "rest-commit",
      requireSnapshotId: Option[Option[Long]] = None): LakeTable = {
    // the requirement (assert-ref-snapshot-id) must hold INSIDE the
    // CAS: a local commit landing between a pre-check and the CAS
    // retry would otherwise be silently erased by the replace
    commitOp(op) { cur =>
      requireSnapshotId.foreach(LakeTable.checkSnapshotRequirement(cur, _, op))
      entries
    }
    this
  }

  /** One REST CommitTable as ONE metadata CAS — the Iceberg REST spec
    * requires all updates + requirements in a commit to succeed or fail
    * as a unit, so requirement check, schema evolution (field-id diff),
    * and the snapshot swap all happen inside the same
    * [[TableMetadata.commit]] closure. A failed requirement therefore
    * never leaves a half-applied schema change behind, and schema-only
    * commits still honor assert-ref-snapshot-id.
    *
    * Schema evolution semantics (ids are the identity, per spec): same
    * id + new name = rename; current id absent from `incoming` = drop;
    * unknown id = add, KEEPING the client-supplied field id (a client
    * computes it from the table state it read; accepting a different
    * local id would make the next commit's diff misclassify the column).
    * Type changes and field-id reuse below `nextFieldId` refuse with
    * IllegalArgumentException (the caller maps it to 400); requirement
    * failures throw ConcurrentModificationException (409).
    *
    * `buildEntries` runs against the POST-evolution metadata so imported
    * file stats resolve against the schema the new snapshot is tagged
    * with.
    */
  def commitExternal(
      incomingSchema: Option[Seq[FieldDef]],
      buildEntries: Option[TableMetadata => Seq[FileEntry]],
      requireSnapshotId: Option[Option[Long]],
      op: String = "rest-commit"): TableMetadata = {
    val committed = TableMetadata.commit(location) { curOpt =>
      val cur = curOpt.getOrElse(
        throw new IllegalStateException(s"table vanished at $location"))
      requireSnapshotId.foreach(
        LakeTable.checkSnapshotRequirement(cur, _, op))
      val evolved = incomingSchema.fold(cur)(evolveSchemaByFieldId(cur, _))
      buildEntries match {
        case None => evolved
        case Some(build) =>
          val snapId = evolved.snapshots.map(_.id).max + 1
          evolved.copy(
            snapshots = evolved.snapshots :+ Snapshot(snapId,
              System.currentTimeMillis(), op, build(evolved)),
            currentSnapshotId = snapId)
      }
    }
    if (committed.properties.get("iceberg.export").contains("true"))
      IcebergExport.export(this)
    committed
  }

  /** Field-id-diff schema evolution for [[commitExternal]]. Pure:
    * returns the evolved metadata (identical input schema = no new
    * schema version). Surviving fields keep their current order and
    * defaults; adds append in incoming order.
    */
  private def evolveSchemaByFieldId(cur: TableMetadata,
      incoming: Seq[FieldDef]): TableMetadata = {
    val sv = cur.currentSchema
    val curById = sv.fields.map(f => f.id -> f).toMap
    val inIds = incoming.map(_.id).toSet
    val typeChanged = incoming.flatMap(nf => curById.get(nf.id).collect {
      case cf if !cf.dataType.equalsIgnoreCase(nf.dataType) =>
        s"${cf.name}: ${cf.dataType} -> ${nf.dataType}"
    })
    if (typeChanged.nonEmpty)
      throw new IllegalArgumentException(
        s"type evolution not supported (${typeChanged.mkString("; ")})")
    val added = incoming.filterNot(nf => curById.contains(nf.id))
    // a fresh id below nextFieldId would collide with values already
    // written under a dropped column's id in old data files
    added.filter(_.id < cur.nextFieldId).foreach(nf =>
      throw new IllegalArgumentException(
        s"added column ${nf.name} reuses field id ${nf.id} " +
          s"(next free id is ${cur.nextFieldId})"))
    val kept = sv.fields.filter(f => inIds.contains(f.id)).map { f =>
      val nf = incoming.find(_.id == f.id).get
      if (nf.name != f.name) f.copy(name = nf.name) else f
    }
    if (kept == sv.fields && added.isEmpty) cur
    else {
      val next = SchemaVersion(sv.version + 1,
        kept ++ added.map(nf =>
          FieldDef(nf.id, nf.name, nf.dataType, nf.nullable)))
      cur.copy(schemas = cur.schemas :+ next,
        currentSchemaVersion = next.version,
        nextFieldId = (added.map(_.id + 1) :+ cur.nextFieldId).max)
    }
  }

  /** Snapshot changelog (the reference's changelog test surface —
    * pg_lake_table/tests/pytests/test_iceberg_changelog.py): row-level
    * diff between two snapshots at copy-on-write granularity. Rows in
    * files added between the snapshots surface as `insert`, rows in
    * files removed as `delete`; an updated row therefore appears as a
    * delete+insert pair, exactly like Iceberg's changelog for
    * copy-on-write tables. Pure metadata diff + scans of only the
    * changed files.
    */
  def changes(fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val m = meta
    def snapOf(id: Long): Snapshot =
      m.snapshot(id).getOrElse(throw new IllegalArgumentException(
        s"no snapshot $id"))
    val fromSnap = snapOf(fromSnapshotId)
    val toSnap = snapOf(toSnapshotId)
    def byPath(fs: Seq[FileEntry]) = fs.map(f => f.path -> f).toMap
    val from = byPath(fromSnap.dataFiles)
    val to = byPath(toSnap.dataFiles)
    val added = (to.keySet -- from.keySet).toSeq.sorted.map(to(_))
    val removed = (from.keySet -- to.keySet).toSeq.sorted.map(from(_))
    // each side reads through ITS snapshot's delete files, so a
    // compaction (raw file set changes, live rows don't) nets to
    // insert/delete pairs that cancel row-for-row
    val ins = readResolved(m, added ++ toSnap.deleteFiles)
      .withColumn("_change_type", lit("insert"))
    val del = readResolved(m, removed ++ fromSnap.deleteFiles)
      .withColumn("_change_type", lit("delete"))
    // merge-on-read deletes: positions added between the snapshots,
    // targeting files live in BOTH, are removed rows of those files
    val fromDelPaths = fromSnap.deleteFiles.map(_.path).toSet
    val newDels = toSnap.deleteFiles.filterNot(f =>
      fromDelPaths.contains(f.path))
    val common = (to.keySet & from.keySet).toSeq.sorted.map(to(_))
    val morDel =
      if (newDels.isEmpty || common.isEmpty)
        emptyFrame(m.sparkSchema).withColumn("_change_type", lit("delete"))
      else {
        val src = readFiles(m, common, withPos = true)
        val pos = broadcast(readDeletePositions(newDels))
        src.join(pos,
            RowIds.normalizePath(src("__rid_fp")) === pos("file_path") &&
              src("__rid_ri") === pos("pos"), "left_semi")
          .drop("__rid_fp", "__rid_ri")
          .withColumn("_change_type", lit("delete"))
      }
    ins.unionAll(del).unionAll(morDel)
  }

  /** Snapshot catalog as a DataFrame (iceberg_tables-view equivalent;
    * reference test_iceberg_functions.py asserts lake_iceberg.snapshots
    * carries sequence-number and parent-snapshot-id lineage — the
    * sequence is the snapshot's 1-based position in the log, the
    * parent is the previous entry, exactly how the Iceberg export
    * writes them).
    */
  def snapshots: DataFrame = {
    val m = meta
    import spark.implicits._
    m.snapshots.zipWithIndex.map { case (s, i) =>
      (s.id, s.timestampMs, s.operation, s.files.size,
        // live rows: data rows minus outstanding position deletes
        s.dataFiles.map(_.rows).sum - s.deleteFiles.map(_.rows).sum,
        i + 1L,
        if (i == 0) None else Some(m.snapshots(i - 1).id))
    }.toDF("snapshot_id", "timestamp_ms", "operation", "n_files",
      "n_rows", "sequence_number", "parent_snapshot_id")
  }

  /** File catalog (lake_iceberg.files() equivalent; `first_row_id`
    * mirrors the reference's lake_table.files column, row_ids.c:80).
    */
  def files: DataFrame = {
    val m = meta
    import spark.implicits._
    m.currentSnapshot.map(_.files).getOrElse(Nil)
      .map(f => (f.path, f.rows, f.bytes, f.schemaVersion, f.firstRowId,
        f.content,
        // the reference's lake_iceberg.files spells content as a
        // label (test_iceberg_functions.py asserts POSITION_DELETES)
        f.content match {
          case 0 => "DATA"
          case 1 => "POSITION_DELETES"
          case _ => "EQUALITY_DELETES"
        }))
      .toDF("path", "rows", "bytes", "schema_version", "first_row_id",
        "content", "content_type")
  }

  // -------------------------------------------------------- schema change

  /** Metadata-only column add (docs/iceberg-tables.md:643-700). */
  def addColumn(name: String, ddlType: String,
      default: Option[String] = None): LakeTable = {
    default.foreach(d => expr(d)) // validate the expression parses
    if (meta.properties.get("compatibility_mode").contains("snowflake"))
      LakeTable.rejectMaps(name, DataType.fromDDL(ddlType))
    metaCommit { cur =>
      val sv = cur.currentSchema
      val next = SchemaVersion(sv.version + 1,
        sv.fields :+ FieldDef(cur.nextFieldId, name, ddlType,
          initialDefault = default))
      cur.copy(schemas = cur.schemas :+ next,
        currentSchemaVersion = next.version, nextFieldId = cur.nextFieldId + 1)
    }
    this
  }

  /** Metadata-only rename — field ids keep old files readable. */
  def renameColumn(from: String, to: String): LakeTable = {
    metaCommit { cur =>
      val sv = cur.currentSchema
      val next = SchemaVersion(sv.version + 1,
        sv.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      cur.copy(schemas = cur.schemas :+ next,
        currentSchemaVersion = next.version)
    }
    this
  }

  /** Metadata-only drop. */
  def dropColumn(name: String): LakeTable = {
    metaCommit { cur =>
      val sv = cur.currentSchema
      val next = SchemaVersion(sv.version + 1,
        sv.fields.filterNot(_.name == name))
      cur.copy(schemas = cur.schemas :+ next,
        currentSchemaVersion = next.version)
    }
    this
  }

  /** DROP TABLE (reference docs/iceberg-tables.md "Dropping an Iceberg
    * table"): `purge` deletes the whole table tree (managed-table
    * semantics, the default); otherwise only the `_meta` catalog state
    * goes and data files are left for external readers.
    */
  def drop(purge: Boolean = true): Unit = {
    if (!LakeFs.exists(location)) return
    LakeFs.deleteRecursive(
      if (purge) location else TableMetadata.metaDir(location))
  }

  /** ALTER TABLE ... SET PARTITIONED BY — metadata-only partition-spec
    * evolution, the Iceberg model (reference docs/iceberg-tables.md
    * "Defining and evolving partitions"): files already written keep
    * the stats of the spec they were written under (they still prune
    * on predicates their recorded transform values can answer; a file
    * with no stats for a predicate's transform classifies Partial =
    * kept, conservatively correct), and every write after the change
    * fans out and records stats under the new spec. No data rewrite at
    * any table size.
    */
  def setPartitionSpec(spec: Seq[String]): LakeTable = {
    val names = meta.currentSchema.fields.map(_.name).toSet
    spec.foreach { s =>
      val t = PartitionTransform.parse(s) // validates the syntax
      require(names.contains(t.column),
        s"partition transform '$s' references unknown column '${t.column}'")
    }
    metaCommit(_.copy(partitionSpec = spec))
    this
  }

  // ------------------------------------------------------------ internals

  /** Commit an op that REMOVES specific files and ADDS new ones, merged
    * against the freshly loaded snapshot so a CAS retry never reverts a
    * concurrent writer's commit (append merges the same way inline).
    * If any removed file has already vanished — a concurrent delete or
    * compact claimed it — the result written from it is stale, so the
    * commit aborts with ConcurrentModificationException and
    * [[retryOnConflict]] re-runs the whole operation against fresh
    * state (Iceberg's validate-then-retry semantics; the orphaned
    * attempt files are swept by expireSnapshots).
    */
  private def commitMerge(op: String, removedPaths: Set[String],
      added: Seq[FileEntry],
      props: Map[String, String] = Map.empty): TableMetadata =
    commitOp(op, props) { cur =>
      val curFiles = cur.currentSnapshot.map(_.files).getOrElse(Nil)
      val missing = removedPaths -- curFiles.map(_.path).toSet
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op lost ${missing.size} file(s) to a concurrent writer")
      // a pure merge-on-read op removes NOTHING, so the removal check
      // can't see a concurrent rewrite of its targets — positions
      // against a vanished file would silently resurrect the rows.
      // Verify every new delete entry's targets are still live.
      val curNorm = curFiles.filter(_.isData)
        .map(f => RowIds.normalizePathStr(f.path)).toSet
      val staleTargets = added.filterNot(_.isData).flatMap(_.targets)
        .filterNot(curNorm.contains)
      if (staleTargets.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op lost ${staleTargets.size} delete target(s) to a " +
            "concurrent writer")
      curFiles.filterNot(f => removedPaths.contains(f.path)) ++ added
    }

  /** Metadata-only change (schema evolution, partition-spec swap):
    * CAS-committed immediately, or staged when an engine transaction
    * is active — the reference stages ALTER TABLE ops across a
    * transaction the same way (test_iceberg_in_tx.py mixes ADD COLUMN
    * and partition_by changes between in-transaction INSERTs).
    */
  private def metaCommit(f: TableMetadata => TableMetadata): TableMetadata =
    txOverlay match {
      case Some(ov) =>
        val (base, cur) = ov.staged.getOrElse {
          val m = ov.baseMeta(TableMetadata.load(location))
          (m, m)
        }
        val next = f(cur)
        ov.staged = Some((base, next))
        next
      case None =>
        TableMetadata.commit(location)(curOpt => f(curOpt.getOrElse(
          throw new IllegalStateException(s"table vanished at $location"))))
    }

  private def retryOnConflict[A](op: String, attempts: Int = 5)(
      body: => A): A = {
    var last: java.util.ConcurrentModificationException = null
    var i = 0
    while (i < attempts) {
      try return body
      catch { case e: java.util.ConcurrentModificationException =>
        last = e; i += 1 }
    }
    throw new IllegalStateException(
      s"$op gave up after $attempts conflicting attempts", last)
  }

  private def commitOp(op: String, props: Map[String, String] = Map.empty,
      mergeProps: Map[String, String] => Map[String, String] = identity)(
      nextFiles: TableMetadata => Seq[FileEntry]): TableMetadata = {
    def advance(cur: TableMetadata): TableMetadata = {
      val snapId = cur.snapshots.map(_.id).max + 1
      val files0 = nextFiles(cur)
      // mergeProps runs INSIDE the CAS loop on the freshest
      // properties — read-modify-write merges (e.g. the ingest chunk
      // list) stay correct under commit races, where a static map
      // computed from stale state would overwrite a racer's update
      val merged0 = mergeProps(cur.properties ++ props)
      // row-ids central hook: any commit that introduces range-less
      // files (append, ingest, replace, the new-version half of an
      // update) draws them fresh affine ranges from the sequence —
      // atomically with the sequence bump, which is what the reference
      // needs its sequence lock for (row_ids.c:203-240). Rewrite paths
      // attach their preserved/derived ranges before committing and
      // pass through untouched.
      val (files, merged) =
        if (merged0.get("row_ids").contains("true"))
          RowIds.assignFresh(files0, merged0)
        else (files0, merged0)
      cur.copy(
        snapshots = cur.snapshots :+
          Snapshot(snapId, System.currentTimeMillis(), op, files),
        currentSnapshotId = snapId,
        properties = merged)
    }
    txOverlay match {
      case Some(ov) =>
        // engine transaction: advance the STAGED metadata in memory.
        // Data files were already written (eagerly, like the
        // reference); the storage CAS — and the Iceberg re-export,
        // which must never publish uncommitted state — are deferred
        // to the engine's COMMIT. Under REPEATABLE READ the first
        // write's base is the pinned snapshot, so the commit-time CAS
        // detects any writer that landed since the pin.
        val (base, cur) = ov.staged.getOrElse {
          val m = ov.baseMeta(TableMetadata.load(location))
          (m, m)
        }
        val next = advance(cur)
        ov.staged = Some((base, next))
        next
      case None =>
        val committed = TableMetadata.commit(location) { curOpt =>
          advance(curOpt.getOrElse(throw new IllegalStateException(
            s"table vanished at $location")))
        }
        // object-store catalog mode (reference object_store_catalog.c):
        // every commit re-exports current Iceberg metadata under the
        // stable version-hint path, so external engines always attach
        // to the newest snapshot
        if (committed.properties.get("iceberg.export").contains("true"))
          IcebergExport.export(this)
        committed
    }
  }

  /** Write `df` (current-schema rows) as parquet and return the new
    * [[FileEntry]]s. Every file reports its own stats while it is
    * written ([[LakeWriteStats]]: rows, per-field null count and min/max,
    * the min/max of each partition transform), so no job re-reads the
    * fresh files (the reference gathers the same stats during its
    * write, data_file_stats.c).
    *
    * Partitioned tables fan out with one file per partition tuple, or
    * pack CONTIGUOUS tuples into `targetFiles` buckets balanced by row
    * count ([[partitionedWriter]]). Unlike sampling-based
    * repartitionByRange this is deterministic: a data file never
    * straddles a bucket boundary, so partition-aligned predicates
    * classify files exactly (Skip/Full), which is what makes
    * metadata-only partition DELETE and tight pruning reliable (the
    * reference fans out per partition tuple the same way —
    * partitioned_dest_receiver.c). `rowBound`, when the caller knows
    * one, is an upper bound on the rows of `df`; it lets a partitioned
    * write skip counting its tuples first.
    */
  private def writeData(m: TableMetadata, df: DataFrame,
      targetFiles: Option[Int], rowBound: Option[Long],
      extraCols: Seq[String] = Nil)
      : Seq[FileEntry] = {
    val cur = m.currentSchema
    val schema = m.sparkSchema
    // NaN/±Inf can't exist in an Iceberg DECIMAL (reference
    // iceberg_datum_validation: "NaN is not supported for Iceberg
    // decimal", test_special_numeric.py): a float/double/string source
    // casting to a decimal column either errors loudly (the
    // out_of_range_values = 'error' default) or clamps to NULL —
    // Spark's bare cast would swallow them as silent NULLs either way
    val rangeMode = m.properties.getOrElse("out_of_range_values", "error")
    val srcTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def castTo(f: FieldDef): Column = {
      val target = DataType.fromDDL(f.dataType)
      val src = col(f.name)
      val guarded = (target, srcTypes.get(f.name)) match {
        case (_: DecimalType,
            Some(FloatType | DoubleType | StringType)) =>
          val d = src.cast(DoubleType)
          val bad = coalesce(isnan(d) ||
            d === Double.PositiveInfinity ||
            d === Double.NegativeInfinity, lit(false))
          if (rangeMode == "clamp") when(bad, lit(null)).otherwise(src)
          else when(bad, raise_error(concat(
            lit(s"NaN is not supported for Iceberg decimal (${f.name}); " +
              "set out_of_range_values=clamp to store NULL: "),
            src.cast(StringType)))).otherwise(src)
        case _ => src
      }
      guarded.cast(target)
    }
    val aligned0 = applyRangePolicy(m, SnowflakeCaps(
      df.select(cur.fields.map(castTo) ++ extraCols.map(col): _*)
        .toDF(cur.fields.map(_.name) ++ extraCols: _*), m.properties))
    // on-disk representation: intervals become the 3-field struct
    val aligned1 = cur.fields.foldLeft(aligned0) { (acc, f) =>
      if (IntervalStorage.isInterval(DataType.fromDDL(f.dataType)))
        acc.withColumn(f.name, org.apache.spark.sql.GraftBridge.column(
          IntervalStorage.IntervalToStruct(
            org.apache.spark.sql.GraftBridge.expression(col(f.name)))))
      else acc
    }
    // embed the table's field ids in the parquet footers (reference
    // writes them the same way — pg_lake_engine/src/pgduck/
    // write_data.c:575-656) so exported Iceberg metadata points at
    // files external engines can project by id, not just by the
    // name-mapping property
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val aligned = aligned1.select(cur.fields.map { f =>
      col(f.name).as(f.name, new MetadataBuilder()
        .putLong("parquet.field.id", f.id.toLong).build())
    } ++ extraCols.map(col): _*)

    val transforms = m.transforms
    val commitDir = LakeFs.child(location, s"data/${UUID.randomUUID()}")

    val writer =
      if (transforms.nonEmpty)
        partitionedWriter(m, aligned, targetFiles, rowBound)
      else {
        // coalesce (not round-robin repartition) preserves any clustering
        // the caller established — e.g. an orderBy upstream yields files
        // with tight, disjoint key ranges that stats pruning can use.
        // LAZY on purpose: materializing .rdd completes a QueryExecution,
        // which delivers a null metrics row to any Observation riding
        // this plan (update/copyFrom count their rows that way) — only
        // touch it when a targetFiles policy actually needs it.
        lazy val parts = aligned.rdd.getNumPartitions
        val clustered = targetFiles match {
          case Some(n) if parts >= n => aligned.coalesce(n)
          case _ => aligned
        }
        var w = clustered.write.mode("errorifexists")
        targetFiles.filter(_ > parts).foreach { n =>
          // fewer partitions than requested files: split each task's
          // (order-preserving) output stream by row count instead
          val rows = aligned.count()
          w = w.option("maxRecordsPerFile", math.max(1L, (rows + n - 1) / n))
        }
        Some(w)
      }

    // the table's fields lead every written row (a partitioned write
    // moves only its bucket column into the directory name)
    val types = aligned.schema.fields.map(_.dataType)
    val ranged = cur.fields.indices.filter(i =>
      LakeWriteStats.ranged(DataType.fromDDL(cur.fields(i).dataType)))
    // the transforms as the write computes them: analyzed, so their
    // implicit casts apply (hour over a date reads it as a timestamp),
    // then bound to the written row
    val transformed =
      if (transforms.isEmpty) Nil
      else aligned.select(transforms.map(t =>
        t.expr(col(t.column), aligned.schema(t.column).dataType)): _*)
        .queryExecution.analyzed match {
          case Project(list, child) => list.map { e =>
            BindReferences.bindReference(e match {
              case a: Alias => a.child
              case o => o
            }, child.output.take(cur.fields.size))
          }
        }
    val spec = WriteStatsSpec(cur.fields.size,
      ranged.map(i => BoundReference(i, types(i), nullable = true)) ++
        transformed)
    val reports = writer match {
      case Some(w) => LakeWriteStats.save(spark, w, commitDir, spec)
      case None => return Nil
    }
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    def render(r: FileReport, k: Int): (Option[String], Option[String]) = {
      val dt = spec.ranges(k).dataType
      (LakeWriteStats.render(r.low(k), dt, tz),
        LakeWriteStats.render(r.high(k), dt, tz))
    }
    LakeWriteStats.written(commitDir, reports).map { case (p, bytes, r) =>
      val fieldStats = cur.fields.indices.map { i =>
        val k = ranged.indexOf(i)
        val (lo, hi) = if (k < 0) (None, None) else render(r, k)
        cur.fields(i).id.toString -> ColStats(lo, hi, r.nulls(i))
      }.toMap
      val partStats = transforms.indices.map { j =>
        val (lo, hi) = render(r, ranged.size + j)
        transforms(j).valueName -> ColStats(lo, hi, 0L)
      }.toMap
      FileEntry(p, r.rows, bytes, cur.version, fieldStats, partStats)
    }
  }

  /** The most rows `df` can hold, when its plan says (a VALUES list, a
    * LIMIT); None for file sources.
    */
  private def planBound(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.maxRows

  /** Storage-format bounds enforcement (docs/iceberg-tables.md:124-170;
    * reference iceberg_datum_validation.c): dates and timestamps outside
    * the Iceberg-representable range either fail the write (table
    * property `out_of_range_values = error`, the default) or clamp to
    * the boundary (`= clamp`). Applied per-column as plain CASE
    * expressions inside the write projection — no extra pass.
    */
  private def applyRangePolicy(m: TableMetadata, df: DataFrame): DataFrame = {
    import java.time.{LocalDate, LocalDateTime}
    val mode = m.properties.getOrElse("out_of_range_values", "error")

    def bounds(dt: DataType): Option[(Column, Column)] = dt match {
      case DateType => Some((
        lit(LocalDate.of(-4712, 1, 1)), lit(LocalDate.of(9999, 12, 31))))
      case TimestampNTZType => Some((
        lit(LocalDateTime.of(1, 1, 1, 0, 0, 0)),
        lit(LocalDateTime.of(9999, 12, 31, 23, 59, 59, 999999000))))
      case TimestampType => Some((
        lit(LocalDateTime.of(1, 1, 1, 0, 0, 0)).cast(TimestampType),
        lit(LocalDateTime.of(9999, 12, 31, 23, 59, 59, 999999000))
          .cast(TimestampType)))
      case _ => None
    }

    df.schema.fields.foldLeft(df) { (acc, f) =>
      bounds(f.dataType) match {
        case Some((lo, hi)) =>
          val c = col(f.name)
          val replaced = mode match {
            case "clamp" =>
              when(c < lo, lo).when(c > hi, hi).otherwise(c)
            case _ =>
              when(c.isNull || (c >= lo && c <= hi), c).otherwise(raise_error(
                concat(lit(s"value out of range for ${f.name} (set " +
                  "out_of_range_values=clamp to truncate): "), c.cast("string"))))
          }
          acc.withColumn(f.name, replaced.cast(f.dataType))
        case None => acc
      }
    }
  }

  /** Fan-out writer for partitioned tables: one file per partition
    * tuple, written under `__bucket=<id>` directories. None when the
    * count found no rows.
    *
    * When the caller bounds the rows (`rowBound`) at or below
    * `write.max-partition-fanout` (default 65536) and at or below
    * `targetFiles`, the tuples cannot outnumber the cap or the files
    * asked for, so the write goes straight out, clustered by a 64-bit
    * id of each tuple ([[PartitionTransform.tupleId]]; two tuples
    * whose ids collide share a file, which stats pruning handles like
    * any other file). Otherwise one job counts the rows per distinct
    * tuple, collecting at most cap + 1 tuples to the driver:
    *   - within the cap and the file count, the same per-tuple write;
    *   - within the cap but over `targetFiles`, the sorted tuples pack
    *     into contiguous buckets of about equal rows, one file each;
    *   - over the cap — e.g. PARTITIONED BY (identity(user_id)) — a
    *     distributed hash-bucket fan-out instead of OOMing the driver.
    *     Hash-bucketed files span several partition values, so stats
    *     pruning degrades from exact Skip/Full to range-based — the
    *     correct price of identity-partitioning unbounded-cardinality
    *     columns.
    */
  private def partitionedWriter(m: TableMetadata, aligned: DataFrame,
      targetFiles: Option[Int], rowBound: Option[Long])
      : Option[DataFrameWriter[Row]] = {
    val schema = m.sparkSchema
    val transforms = m.transforms
    val valueNames = transforms.map(_.valueName)
    val withVals = transforms.foldLeft(aligned)((acc, t) =>
      acc.withColumn(t.valueName, t.expr(col(t.column), schema(t.column).dataType)))

    // each `__bucket` value clustered into one of `tasks` tasks;
    // partitionBy then writes exactly one file per value
    def bucketed(df: DataFrame, tasks: Int) = Some(df
      .select((schema.fieldNames.map(col) :+ col("__bucket")).toIndexedSeq: _*)
      .repartition(math.max(1, tasks), col("__bucket"))
      .write.mode("errorifexists").partitionBy("__bucket"))
    def perTuple(tasks: Int) = bucketed(withVals.withColumn("__bucket",
      PartitionTransform.tupleId(valueNames.map(n =>
        (col(n), withVals.schema(n).dataType)))), tasks)
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions

    // a cap <= 0 sends every non-empty write down the hash path
    val fanoutCap = math.max(0, m.properties.get("write.max-partition-fanout")
      .map(_.toInt).getOrElse(65536))
    val bounded = rowBound.filter(b =>
      b <= fanoutCap && targetFiles.forall(b <= _))
    if (bounded.nonEmpty)
      return perTuple(math.min(bounded.get, shufflePartitions.toLong).toInt)

    val counts = withVals.groupBy(valueNames.map(col): _*).count()
      .limit(math.min(fanoutCap, Int.MaxValue - 1) + 1).collect()
    if (counts.isEmpty) return None
    if (counts.length > fanoutCap) {
      val nBuckets = math.max(1, targetFiles.getOrElse(shufflePartitions))
      return bucketed(withVals.withColumn("__bucket",
        pmod(xxhash64(valueNames.map(col): _*), lit(nBuckets.toLong))
          .cast(IntegerType)), nBuckets)
    }
    if (targetFiles.forall(_ >= counts.length)) return perTuple(counts.length)

    // pack: sort distinct tuples (nulls first, then natural per-column
    // order) into targetFiles contiguous buckets
    val anyOrd: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
      case _ => 0
    }
    val k = valueNames.size
    val sorted = counts.sortBy(r => (0 until k).map(r.get).toIndexedSeq)(
      Ordering.Implicits.seqOrdering(anyOrd))

    val total = sorted.map(_.getLong(k)).sum
    val nBuckets = math.max(1, targetFiles.get)
    val targetRows = math.ceil(total.toDouble / nBuckets)
    var b = 0; var acc = 0L
    val assignment = sorted.map { r =>
      val c = r.getLong(k)
      if (acc > 0 && acc + c > targetRows && b < nBuckets - 1) { b += 1; acc = 0L }
      acc += c
      Row.fromSeq((0 until k).map(r.get) :+ b)
    }

    val mapSchema = StructType(
      valueNames.map(n => withVals.schema(n).copy(name = s"__v_$n")) :+
        StructField("__bucket", IntegerType, false))
    val mapDf = spark.createDataFrame(assignment.toList.asJava, mapSchema)
    val joinCond = valueNames.map(n => withVals(n) <=> mapDf(s"__v_$n"))
      .reduce(_ && _)
    bucketed(withVals.join(broadcast(mapDf), joinCond, "left"), nBuckets)
  }
}

object LakeTable {

  /** The rows `pred` selects, as `assignments` leave them (UPDATE's new
    * row versions and what its RETURNING sees), with [[NullAwareIn]]'s
    * 3VL. Assignments evaluate over the OLD row simultaneously (PG:
    * `SET a = b, b = a` swaps) and match columns case-insensitively.
    */
  private[graft] def matchedRows(rows: DataFrame, pred: Column,
      assignments: Map[String, Column] = Map.empty): DataFrame = {
    val byLower = assignments.map { case (k, v) => k.toLowerCase -> v }
    require(byLower.size == assignments.size,
      s"update: duplicate assignment targets in ${assignments.keys}")
    NullAwareIn.frame(rows.filter(coalesce(pred, lit(false)))
      .select(rows.columns.toSeq.map { name =>
        byLower.get(name.toLowerCase).map(_.as(name)).getOrElse(col(name))
      }: _*))
  }

  /** Open the parquet footer of `path`, apply `f` to the reader, close
    * it: row count and schema without a Spark job.
    */
  private[lake] def withFooter[T](path: String,
      conf: org.apache.hadoop.conf.Configuration)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try f(r) finally r.close()
  }

  /** Reference DEFAULT_MAX_SNAPSHOT_AGE
    * (pg_lake_iceberg/include/pg_lake/iceberg/api/table_metadata.h:26).
    */
  val DefaultMaxSnapshotAgeSecs = 1800L

  /** assert-ref-snapshot-id, evaluated inside the commit CAS.
    * `Some(id)` = the table must still be at snapshot `id`.
    * `None` = the spec's null snapshot-id: "the ref must have no
    * current snapshot" — a managed table is born with a create
    * snapshot, so the equivalent state here is "still at the create
    * snapshot, no data commit has landed". Without enforcing this,
    * two concurrent FIRST appends would both pass and the later
    * full-state snapshot would silently drop the earlier one's rows.
    */
  private[lake] def checkSnapshotRequirement(cur: TableMetadata,
      req: Option[Long], op: String): Unit = req match {
    case Some(id) =>
      if (cur.currentSnapshotId != id)
        throw new java.util.ConcurrentModificationException(
          s"$op requirement failed: table is at snapshot " +
            s"${cur.currentSnapshotId}, not $id")
    case None =>
      if (!cur.currentSnapshot.forall(_.operation == "create"))
        throw new java.util.ConcurrentModificationException(
          s"$op requirement failed: ref main expected to have no " +
            s"current snapshot, but table is at snapshot " +
            s"${cur.currentSnapshotId}")
  }

  /** `compatibility_mode` table option (reference
    * test_compatibility_mode.py): 'auto' or 'snowflake', validated at
    * CREATE, immutable afterwards. Under 'snowflake' a type the target
    * cannot represent — map columns — is rejected up front at CREATE /
    * ADD COLUMN. Pure option layer, no storage shaping: the reference
    * stores nested uuids as string under 'snowflake', which this
    * engine's string uuid convention (SURVEY §1.2) already does for
    * every mode.
    */
  /** PG boolean spellings for table options (defGetBoolean's set —
    * the reference's autovacuum option validator accepts true/false/
    * on/off and rejects garbage at DDL time with "requires a Boolean
    * value", test_autovacuum_compact_data_files.py).
    */
  private[graft] def pgBool(v: String, opt: String): Boolean =
    v.trim.toLowerCase match {
      case "true" | "on" | "yes" | "1" | "t" => true
      case "false" | "off" | "no" | "0" | "f" => false
      case _ => throw new IllegalArgumentException(
        s"$opt requires a Boolean value")
    }

  /** Validate maintenance/autovacuum options at DDL/SET time, not
    * lazily at the first sweep (the reference's validator posture).
    */
  private[lake] def validateMaintenanceOptions(
      props: Map[String, String]): Unit = {
    Seq("autovacuum_enabled", "autovacuum_compact_data_files",
      "enable_manifest_merge_on_write")
      .foreach(k => props.get(k).foreach(v => pgBool(v, k)))
    Seq("autovacuum_commit_interval", "autovacuum_keep_snapshots",
      "manifest_min_count_to_merge", "target_manifest_size_kb")
      .foreach(k => props.get(k).foreach { v =>
        require(scala.util.Try(v.trim.toInt).isSuccess,
          s"$k requires an integer value")
      })
    // reference option.c:770-777: validated at DDL time, non-negative
    props.get("max_snapshot_age").foreach { v =>
      require(scala.util.Try(v.trim.toLong).toOption.exists(_ >= 0),
        "option \"max_snapshot_age\" must be non-negative")
    }
    props.get("autovacuum_grace_ms").foreach { v =>
      require(scala.util.Try(v.trim.toLong).isSuccess,
        "autovacuum_grace_ms requires an integer value")
    }
  }

  private[lake] def validateCompatibilityMode(
      props: Map[String, String], schema: StructType): Unit = {
    props.get("compatibility_mode").foreach { v =>
      require(v == "auto" || v == "snowflake",
        s"invalid compatibility_mode '$v' (expected 'auto' or 'snowflake')")
      if (v == "snowflake")
        schema.fields.foreach(f => rejectMaps(f.name, f.dataType))
    }
  }

  private[lake] def rejectMaps(name: String, dt: DataType): Unit = dt match {
    case _: MapType => throw new IllegalArgumentException(
      s"column $name: map types cannot be represented under " +
        "compatibility_mode 'snowflake'")
    case s: StructType => s.fields.foreach(f => rejectMaps(s"$name.${f.name}", f.dataType))
    case a: ArrayType => rejectMaps(s"$name[]", a.elementType)
    case _ => ()
  }

  /** Create an empty managed table. */
  def create(spark: SparkSession, location: String, name: String,
      schema: StructType, partitionSpec: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): LakeTable = {
    require(TableMetadata.currentVersion(location).isEmpty,
      s"table already exists at $location")
    validateCompatibilityMode(properties, schema)
    validateMaintenanceOptions(properties)
    TableMetadata.commit(location, create = true)(_ =>
      TableMetadata.fromStruct(name, schema, partitionSpec)
        .copy(properties = properties))
    new LakeTable(spark, location)
  }

  /** CTAS (create_table_as_select.c equivalent). */
  def createAsSelect(spark: SparkSession, location: String, name: String,
      df: DataFrame, partitionSpec: Seq[String] = Nil,
      targetFiles: Option[Int] = None,
      properties: Map[String, String] = Map.empty): LakeTable = {
    val t = create(spark, location, name, df.schema, partitionSpec, properties)
    t.append(df, targetFiles)
    t
  }

  def load(spark: SparkSession, location: String): LakeTable = {
    TableMetadata.load(location) // validates existence
    new LakeTable(spark, location)
  }
}

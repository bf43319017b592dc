package graft.lake

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Per-column min/max/null statistics for one data file, stored as
  * strings and re-typed through the table schema when pruning (the
  * reference keeps the same per-file stats in a PG catalog —
  * pg_lake_engine/src/data_file/data_file_stats.c, consumed by
  * data_file_pruning.c).
  */
final case class ColStats(min: Option[String], max: Option[String],
    nullCount: Long)

/** One contiguous block of row ids mapped onto a run of positions in a
  * data file: rows `[rowNumberStart, rowNumberStart+numRows)` of the
  * file carry ids `[rowIdStart, rowIdStart+numRows)` (the reference's
  * `row_id_mappings` catalog rows, pg_lake_table/src/fdw/row_ids.c —
  * int8range semantics, end-exclusive). A freshly appended file has
  * exactly one affine range starting at position 0; rewritten files
  * (copy-on-write delete, compaction) carry one range per surviving
  * consecutive-id run.
  */
final case class RowIdRange(
    rowIdStart: Long,
    numRows: Long,
    rowNumberStart: Long)

/** One data file in a snapshot. `fieldStats` is keyed by field id (as a
  * string — JSON maps want string keys); `partStats` by transform
  * valueName, holding the min/max of the transform value over the file
  * (equal min/max = file belongs to exactly one partition).
  * `rowIdRanges` is non-empty only on row-ids tables.
  */
final case class FileEntry(
    path: String,
    rows: Long,
    bytes: Long,
    schemaVersion: Int,
    fieldStats: Map[String, ColStats],
    partStats: Map[String, ColStats],
    rowIdRanges: Seq[RowIdRange] = Nil,
    // Iceberg content ids: 0 = data, 1 = position deletes (merge-on-
    // read DELETE/UPDATE write these instead of rewriting data files —
    // reference writable_table.c ApplyDeleteFile). Delete files carry
    // (file_path, pos) rows; `deleteTargets` lists the NORMALIZED data
    // file paths they may reference, for read-side planning.
    content: Int = 0,
    deleteTargets: Seq[String] = Nil,
    // delete files: rows per target (normalized path), reported by the
    // write; absent on entries written before the write reported them.
    // contentAs: erasure hides Long from Jackson, which would read
    // small counts back as Integer
    @JsonInclude(JsonInclude.Include.NON_EMPTY)
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    deleteTargetRows: Map[String, Long] = Map.empty) {

  /** Null-safe view (Jackson leaves the field null on legacy JSON). */
  def ranges: Seq[RowIdRange] = Option(rowIdRanges).getOrElse(Nil)

  def targets: Seq[String] = Option(deleteTargets).getOrElse(Nil)

  /** Rows per target, None on a legacy delete entry. */
  def targetRows: Option[Map[String, Long]] =
    Option(deleteTargetRows).filter(_.nonEmpty)

  def isData: Boolean = content == 0

  /** Iceberg v3 `first_row_id` equivalent (reference
    * UpdateDataFileFirstRowId, row_ids.c:80).
    */
  def firstRowId: Option[Long] = ranges.headOption.map(_.rowIdStart)
}

/** A snapshot = complete file list after one commit (append / delete /
  * update / compact / truncate). Every write creates one
  * (docs/iceberg-tables.md:836-863); old snapshots serve time travel
  * until expired by vacuum.
  *
  * Scale: the file list lives in immutable MANIFEST files
  * (`_meta/manifest-*.json`, Iceberg-style — reference:
  * pg_lake_iceberg metadata_operations.c manifest reuse); a snapshot
  * stores only the manifest names. A commit therefore writes the
  * entries it ADDED (one new manifest) plus a metadata.json that is
  * O(#snapshots × #manifest-refs) — never the full file list again.
  * In memory, [[TableMetadata.load]] hydrates `files` from the
  * manifests (process-wide cache keyed by immutable manifest name) so
  * every consumer keeps the simple `snapshot.files` view; on commit the
  * serializer strips hydrated lists back to manifest references,
  * reusing any existing manifest whose file set is still a subset of
  * the snapshot (append reuses all of them; delete rewrites only the
  * manifests it touched). `files` stays inline only for legacy
  * metadata, migrated to manifests on the next commit.
  */
final case class Snapshot(
    id: Long,
    timestampMs: Long,
    operation: String,
    files: Seq[FileEntry],
    manifests: Seq[String] = Nil) {

  def dataFiles: Seq[FileEntry] = files.filter(_.isData)

  def deleteFiles: Seq[FileEntry] = files.filterNot(_.isData)
}

/** One versioned column. Columns are tracked by integer field id, never
  * by name, so renames are metadata-only (reference:
  * pg_lake_table/src/fdw/schema_operations/register_field_ids.c).
  * `physicalName` is the column name as written inside data files of a
  * given schema version. `initialDefault` is an SQL expression applied
  * when reading files written BEFORE the column existed (Iceberg's
  * initial-default: ALTER ADD COLUMN ... DEFAULT is metadata-only, no
  * rewrite; files written after the add carry real values).
  */
final case class FieldDef(id: Int, name: String, dataType: String,
    nullable: Boolean = true, initialDefault: Option[String] = None)

final case class SchemaVersion(version: Int, fields: Seq[FieldDef])

final case class TableMetadata(
    name: String,
    formatVersion: Int,
    schemas: Seq[SchemaVersion],
    currentSchemaVersion: Int,
    partitionSpec: Seq[String], // transform strings, e.g. "day(ts)"
    snapshots: Seq[Snapshot],
    currentSnapshotId: Long,
    nextFieldId: Int,
    properties: Map[String, String] = Map.empty) {

  def currentSchema: SchemaVersion =
    schemas.find(_.version == currentSchemaVersion).get

  def schemaAt(v: Int): SchemaVersion = schemas.find(_.version == v).get

  def currentSnapshot: Option[Snapshot] =
    snapshots.find(_.id == currentSnapshotId)

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.id == id)

  def transforms: Seq[PartitionTransform] =
    partitionSpec.map(PartitionTransform.parse)

  /** Spark StructType of the current schema (current names). */
  def sparkSchema: StructType = TableMetadata.toStruct(currentSchema)

  /** Stable row-id tracking on (table option `row_ids = 'true'`,
    * reference pg_lake_table/src/fdw/row_ids.c).
    */
  def rowIdsEnabled: Boolean = properties.get("row_ids").contains("true")

  /** Next unallocated row id — the rowid sequence's value (reference
    * CreateRelationRowIdSequence; ours rides the metadata CAS, so a
    * reservation commits atomically with the files that use it).
    */
  def nextRowId: Long =
    properties.get("row_ids.next").map(_.toLong).getOrElse(1L)
}

object TableMetadata {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def toStruct(sv: SchemaVersion): StructType = {
    import org.apache.spark.sql.types._
    StructType(sv.fields.map(f =>
      StructField(f.name, DataType.fromDDL(f.dataType), f.nullable)))
  }

  /** On-disk schema: intervals persist as the 3-field struct
    * (IntervalStorage, SURVEY §1.2); everything else is 1:1.
    */
  def physicalStruct(sv: SchemaVersion): StructType = {
    import org.apache.spark.sql.types._
    StructType(sv.fields.map { f =>
      val dt = DataType.fromDDL(f.dataType)
      val physical =
        if (IntervalStorage.isInterval(dt)) IntervalStorage.physicalType else dt
      StructField(f.name, physical, f.nullable)
    })
  }

  def fromStruct(name: String, schema: StructType,
      spec: Seq[String]): TableMetadata = {
    // multidimensional arrays are not representable in the storage
    // format (docs/iceberg-tables.md:116,139-141 — the reference
    // rejects them at DDL time too)
    schema.fields.foreach { f =>
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(
            _: org.apache.spark.sql.types.ArrayType, _) =>
          throw new IllegalArgumentException(
            s"column ${f.name}: multidimensional arrays are not supported")
        case _ =>
      }
    }
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      FieldDef(i + 1, f.name, f.dataType.sql, f.nullable)
    }.toSeq
    TableMetadata(name, 1, Seq(SchemaVersion(1, fields)), 1, spec,
      Seq(Snapshot(0, System.currentTimeMillis(), "create", Nil)), 0,
      fields.size + 1)
  }

  def serialize(m: TableMetadata): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m)

  def deserialize(json: String): TableMetadata =
    mapper.readValue(json, classOf[TableMetadata])

  // ---- commit protocol --------------------------------------------------
  //
  // Like the reference's metadata.json + catalog-row CAS
  // (pg_lake_iceberg/src/iceberg/catalog.c:304-398): a commit is an
  // atomic put-if-absent of the immutable _meta/v{N}.json where N =
  // base-version-read + 1 — [[LakeFs.createExclusive]]: locally a
  // temp file published via hard-link (POSIX link(2) fails if the
  // target exists and is atomic — rename would silently replace); on
  // a cluster filesystem `create(overwrite=false)` (HDFS's namenode
  // arbitrates). Losing the CAS ⇒ a concurrent writer committed on
  // the SAME base; the caller reloads, reapplies, retries. On object
  // storage a catalog-service CAS arbitrates instead ([[RestCatalog]]
  // CommitTable), matching the reference's catalog-row approach.

  /** `<location>/_meta` in the location's own scheme — all access
    * below goes through [[LakeFs]], so a table location on a cluster
    * filesystem (hdfs:// or any Hadoop scheme) works end to end; local
    * paths keep their java.nio fast path.
    */
  def metaDir(location: String): String =
    LakeFs.child(location, "_meta")

  /** Latest committed version = max vN.json present (the link is the
    * commit point; no separate pointer file to race on).
    */
  def currentVersion(location: String): Option[Int] = {
    val vPat = "v(\\d+)\\.json".r
    val vs = LakeFs.listNames(metaDir(location)).flatMap {
      case vPat(n) => Some(n.toInt)
      case _ => None
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  def load(location: String): TableMetadata =
    loadVersion(location, currentVersion(location).getOrElse(
      throw new IllegalStateException(s"no lake table at $location")))

  /** package-visible for [[TxMarker]] crash recovery: the marker
    * points at the pre-tx base by version number instead of embedding
    * the (potentially huge) serialized metadata.
    */
  private[lake] def loadVersion(location: String, v: Int): TableMetadata =
    hydrate(location, deserialize(new String(LakeFs.readAllBytes(
      LakeFs.child(metaDir(location), s"v$v.json")))))

  // ---- manifest files ---------------------------------------------------
  //
  // A manifest is an immutable JSON array of FileEntry, named by UUID.
  // Immutability is what makes the cache below safe and manifest reuse
  // across snapshots free; orphans from lost CAS races are swept by
  // expireSnapshots alongside unreferenced data files.

  private final case class ManifestDoc(entries: Seq[FileEntry])

  private val manifestCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[FileEntry]]

  def readManifest(location: String, name: String): Seq[FileEntry] =
    manifestCache.getOrElseUpdate((location, name),
      mapper.readValue(
        LakeFs.readAllBytes(LakeFs.child(metaDir(location), name)),
        classOf[ManifestDoc]).entries)

  def writeManifest(location: String, entries: Seq[FileEntry]): String = {
    val name = s"manifest-${java.util.UUID.randomUUID()}.json"
    val dir = metaDir(location)
    LakeFs.mkdirs(dir)
    LakeFs.writeAtomic(LakeFs.child(dir, name),
      mapper.writeValueAsBytes(ManifestDoc(entries)))
    manifestCache.put((location, name), entries)
    name
  }

  /** In-memory view: every snapshot's `files` filled from its
    * manifests. Jackson leaves absent Seq fields null on legacy JSON —
    * normalized here.
    */
  private def hydrate(location: String, m: TableMetadata): TableMetadata =
    m.copy(snapshots = m.snapshots.map { s =>
      val inline = Option(s.files).getOrElse(Nil)
      val refs = Option(s.manifests).getOrElse(Nil)
      s.copy(files = inline ++ refs.flatMap(readManifest(location, _)),
        manifests = refs)
    })

  /** Storage view: each snapshot's hydrated file list replaced by
    * manifest references. Snapshots unchanged since `base` keep their
    * manifest list verbatim; new (or legacy-inline) snapshots reuse any
    * base manifest whose file set is a subset of theirs and write ONE
    * new manifest for the remainder — so an append stores only the
    * files it added, and a delete rewrites only the manifests it
    * actually touched.
    */
  private def dehydrate(location: String, next: TableMetadata,
      base: Option[TableMetadata]): TableMetadata = {
    val baseById = base.map(_.snapshots.map(s => s.id -> s).toMap)
      .getOrElse(Map.empty)
    // candidate manifests for reuse: current snapshot's first (the
    // common ancestor of every op), then the rest, deduped by name
    val candidates: Seq[String] = base.toSeq.flatMap { b =>
      (b.currentSnapshot.toSeq ++ b.snapshots).flatMap(_.manifests)
    }.distinct
    next.copy(snapshots = next.snapshots.map { s =>
      baseById.get(s.id) match {
        case Some(bs) if bs.manifests.nonEmpty =>
          // existing snapshot: immutable, keep its references
          s.copy(files = Nil, manifests = bs.manifests)
        case _ if s.files.isEmpty =>
          s.copy(manifests = Option(s.manifests).getOrElse(Nil))
        case _ =>
          // reuse requires ENTRY equality, not just path membership: a
          // commit can mutate an existing file's entry in place (e.g.
          // enableRowIds attaching ranges) and a path-keyed check would
          // silently resurrect the stale manifest entry
          val want = s.files.map(f => f.path -> f).toMap
          var covered = Set.empty[String]
          val reused = candidates.filter { name =>
            val entries = readManifest(location, name)
            entries.nonEmpty && entries.forall(e =>
              want.get(e.path).contains(e) && !covered.contains(e.path)) &&
              { covered ++= entries.map(_.path); true }
          }
          val rest = s.files.filterNot(f => covered.contains(f.path))
          val refs = reused ++
            (if (rest.nonEmpty) Seq(writeManifest(location, rest)) else Nil)
          s.copy(files = Nil, manifests = refs)
      }
    })
  }

  /** Merge the CURRENT snapshot's manifest references into
    * target-size groups — the reference's manifest merge
    * (pg_lake_iceberg/src/iceberg/operations/manifest_merge.c
    * MergeDataManifests; knobs init.c:231-252, defaults 8 MB target /
    * min-count 100). Without it a table of large appends accumulates
    * one manifest PER COMMIT forever, and at 100 TB scale opening the
    * table means thousands of small metadata reads — the merge keeps
    * metadata O(files / target-size).
    *
    * Metadata-only and identity-preserving: the snapshot id and its
    * file SET are unchanged (group members concatenate in reference
    * order), so time travel and readers observe nothing; older
    * snapshots keep their original (immutable, shared) manifests,
    * which the existing GC reaps once expiry drops the last reference.
    * Sequential greedy bin-packing stands in for the reference's
    * best-fit — same bound, simpler invariants. Returns true when a
    * merge committed, false when below `minCount` or the CAS lost
    * every retry (harmless: the next write re-triggers).
    */
  def mergeManifests(location: String, minCount: Int,
      targetBytes: Long): Boolean = {
    var attempts = 0
    while (attempts < 50) {
      val baseV = currentVersion(location)
      if (baseV.isEmpty) return false
      val cur = loadVersion(location, baseV.get)
      val snap = cur.currentSnapshot.getOrElse(return false)
      val refs = Option(snap.manifests).getOrElse(Nil)
      if (refs.size < math.max(2, minCount)) return false
      val dir = metaDir(location)
      val sized = refs.map(n => n -> LakeFs.size(LakeFs.child(dir, n)))
      // sequential greedy grouping preserves entry order across the
      // concatenation, so the merged manifest is a reorder-free fold
      val groups = sized.foldLeft(Vector.empty[Vector[(String, Long)]]) {
        case (acc, e @ (_, sz)) =>
          acc.lastOption match {
            case Some(g) if g.map(_._2).sum + sz <= targetBytes =>
              acc.init :+ (g :+ e)
            case _ => acc :+ Vector(e)
          }
      }
      if (groups.size == refs.size) return false // nothing coalesces
      val newRefs = groups.map { g =>
        if (g.size == 1) g.head._1
        else writeManifest(location, g.flatMap(e =>
          readManifest(location, e._1)))
      }
      // stored form by hand: dehydrate would restore the base's refs
      // for an unchanged snapshot id, undoing the merge. `cur` is
      // HYDRATED (files = inline ++ manifest entries), and legacy JSON
      // may carry BOTH inline files and manifests on one snapshot —
      // zeroing `files` against the refs alone would permanently drop
      // the inline entries, so any inline remainder (paths no manifest
      // covers) folds into its own manifest first.
      val stored = cur.copy(snapshots = cur.snapshots.map { s =>
        val sRefs = Option(s.manifests).getOrElse(Nil)
        if (sRefs.isEmpty) s // pure-inline legacy snapshot: unchanged
        else {
          val covered = sRefs.flatMap(readManifest(location, _))
            .map(_.path).toSet
          val inline = Option(s.files).getOrElse(Nil)
            .filterNot(f => covered.contains(f.path))
          val baseRefs = if (s.id == snap.id) newRefs else sRefs
          val full = baseRefs ++
            (if (inline.nonEmpty) Seq(writeManifest(location, inline))
             else Nil)
          s.copy(files = Nil, manifests = full)
        }
      })
      if (tryCommit(location, stored, baseV.get + 1)) return true
      attempts += 1
      Thread.sleep(math.min(200L, 5L << math.min(attempts, 5)))
    }
    false
  }

  /** Manifest names referenced by any snapshot of `m` (for GC). */
  def referencedManifests(m: TableMetadata): Set[String] =
    m.snapshots.flatMap(s => Option(s.manifests).getOrElse(Nil)).toSet

  /** Publish `next` as exactly version `v` (base + 1). False when a
    * concurrent writer already owns `v` — caller must reload and retry.
    */
  def tryCommit(location: String, next: TableMetadata, v: Int): Boolean = {
    val dir = metaDir(location)
    LakeFs.mkdirs(dir)
    LakeFs.createExclusive(LakeFs.child(dir, s"v$v.json"),
      serialize(next).getBytes)
  }

  /** Commit with optimistic retry: `apply` maps the freshly-loaded
    * metadata to its successor; the CAS is pinned to the version that
    * was loaded, so a stale writer can never overwrite an intervening
    * commit.
    */
  def commit(location: String, create: Boolean = false)(
      apply: Option[TableMetadata] => TableMetadata): TableMetadata = {
    var attempts = 0
    while (attempts < 50) {
      val baseV = currentVersion(location)
      val cur = baseV.map(v => loadVersion(location, v))
      val next = apply(cur)
      // store the manifest-split form; hand back the hydrated `next`
      // (identical file lists — dehydrate∘hydrate is the identity on
      // what consumers observe)
      val stored = dehydrate(location, next, cur)
      if (tryCommit(location, stored, baseV.getOrElse(0) + 1)) return next
      attempts += 1
      Thread.sleep(math.min(200L, 5L << math.min(attempts, 5)))
    }
    throw new IllegalStateException(
      s"commit contention: gave up after $attempts attempts at $location")
  }
}

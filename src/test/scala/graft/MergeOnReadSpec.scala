package graft

import graft.lake.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read position deletes (reference writable_table.c
  * ApplyDeleteFile; test_copy_on_write_max_delete_rows.py,
  * test_delete_file.py): small deletes write (file, pos) rows instead
  * of rewriting data files — the 100 TB default — with copy-on-write
  * once a file's deleted fraction crosses `copy_on_write_threshold`
  * (default 20%) or the op crosses `copy_on_write_max_delete_rows`.
  */
class MergeOnReadSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def freshLoc(): String =
    java.nio.file.Files.createTempDirectory("mor").resolve("t").toString

  /** 300 rows across three files (ids 1-100 a, 101-200 b, 201-300 c). */
  private def threeFileTable(props: Map[String, String] = Map.empty)
      : LakeTable = {
    val schema = spark.range(1).selectExpr("1 AS id", "'x' AS value").schema
    val t = LakeTable.create(spark, freshLoc(), "t", schema,
      properties = props)
    for ((start, letter) <- Seq((1, "a"), (101, "b"), (201, "c")))
      t.append(spark.range(start, start + 100).coalesce(1)
        .selectExpr("CAST(id AS INT) AS id", s"'$letter' AS value"))
    t
  }

  private def dataFiles(t: LakeTable) =
    t.meta.currentSnapshot.get.dataFiles
  private def deleteFiles(t: LakeTable) =
    t.meta.currentSnapshot.get.deleteFiles

  /** Every delete entry's row count equals the positions Spark reads
    * from its file, and data rows minus delete rows equals the rows a
    * scan returns (the live-row accounting the entries drive).
    */
  private def assertDeleteAccounting(t: LakeTable): Unit = {
    val dels = deleteFiles(t)
    dels.foreach(d => assert(d.rows == spark.read.parquet(d.path).count(),
      s"${d.path}: entry says ${d.rows} rows"))
    assert(dataFiles(t).map(_.rows).sum - dels.map(_.rows).sum ==
      t.read().count())
  }

  test("small delete is merge-on-read: data files untouched") {
    val t = threeFileTable()
    val dataBefore = dataFiles(t).map(_.path).toSet
    val n = t.delete(col("id").isin(1, 101, 201))
    assert(n == 3)
    assert(dataFiles(t).map(_.path).toSet == dataBefore) // no rewrite
    assert(deleteFiles(t).nonEmpty)
    assert(deleteFiles(t).map(_.rows).sum == 3)
    // both read paths exclude the deleted positions
    assert(t.read().count() == 297)
    assert(t.readIndexed().count() == 297)
    assert(t.read().filter(col("id") === 1).count() == 0)
    assert(t.read().filter(col("id") === 2).count() == 1)
    // time travel to the pre-delete snapshot still sees all 300
    val first = t.meta.snapshots.takeRight(2).head.id
    assert(t.readAsOf(first).count() == 300)
  }

  test("copy_on_write_max_delete_rows caps the op (reference shape)") {
    // limit 2: files a and b take position deletes, file c — with the
    // accumulated count already at the limit — is rewritten in place
    val t = threeFileTable(Map("copy_on_write_max_delete_rows" -> "2"))
    val n = t.delete(col("id").isin(1, 101, 201))
    assert(n == 3)
    assert(deleteFiles(t).map(_.rows).sum == 2) // a + b only
    assert(dataFiles(t).size == 3) // two originals + one rewrite
    assert(t.read().count() == 297)
  }

  test("threshold crossing rewrites: big delete leaves no delete files") {
    val t = threeFileTable()
    // 30% of file a crosses the 20% default threshold
    val n = t.delete(col("id") <= 30)
    assert(n == 30)
    assert(deleteFiles(t).isEmpty)
    assert(dataFiles(t).size == 3)
    assert(t.read().count() == 270)
  }

  test("copy_on_write_threshold=100 forces merge-on-read; 0 forces CoW") {
    val t100 = threeFileTable(Map("copy_on_write_threshold" -> "100"))
    t100.delete(col("id") <= 90) // 90% of file a, still MoR
    assert(deleteFiles(t100).map(_.rows).sum == 90)
    assert(t100.read().count() == 210)
    val t0 = threeFileTable(Map("copy_on_write_threshold" -> "0"))
    t0.delete(col("id") === 1)
    assert(deleteFiles(t0).isEmpty)
    assert(t0.read().count() == 299)
  }

  test("accumulated deletes cross the threshold on a later op") {
    val t = threeFileTable()
    t.delete(col("id") <= 15) // 15% of file a: MoR
    assert(deleteFiles(t).map(_.rows).sum == 15)
    t.delete(col("id") <= 25) // 10 more live rows; total 25% ≥ 20%: CoW
    assert(t.read().count() == 275)
    // the rewrite consumed the file's delete rows
    assert(deleteFiles(t).isEmpty)
  }

  test("full-file delete drops the file even when it carries deletes") {
    val t = threeFileTable()
    t.delete(col("id") === 5)
    assert(deleteFiles(t).map(_.rows).sum == 1)
    val n = t.delete(col("id") <= 100) // everything left in file a
    assert(n == 99) // 100 minus the already-deleted row
    assert(t.read().count() == 200)
    assert(deleteFiles(t).isEmpty) // consumed with the dropped file
  }

  test("delete-file row counts: merge-on-read delete over several files") {
    val t = threeFileTable()
    assert(t.delete(col("id").isin(1, 2, 101, 201, 202)) == 5)
    assert(deleteFiles(t).map(_.rows).sum == 5)
    assertDeleteAccounting(t)
  }

  test("delete-file row counts: mixed op re-filters its batch") {
    // limit 2: file a takes both of its positions as deletes, b and c
    // (with the op already at the limit) are rewritten, so the batch
    // is re-filtered down to file a's positions
    val t = threeFileTable(Map("copy_on_write_max_delete_rows" -> "2"))
    val a = dataFiles(t).head.path
    assert(t.delete(col("id").isin(1, 2, 101, 201)) == 4)
    assert(deleteFiles(t).flatMap(_.targets).toSet ==
      Set(graft.lake.RowIds.normalizePathStr(a)))
    assert(deleteFiles(t).map(_.rows).sum == 2)
    assertDeleteAccounting(t)
  }

  test("delete-file row counts: retained batch shrinks to live targets") {
    val t = threeFileTable()
    val a = dataFiles(t).head.path
    assert(t.delete(col("id").isin(1, 101)) == 2)
    assertDeleteAccounting(t)
    // file b goes whole: the batch survives for file a only
    assert(t.delete(col("id") >= 101 && col("id") <= 200) == 99)
    assert(deleteFiles(t).flatMap(_.targets).toSet ==
      Set(graft.lake.RowIds.normalizePathStr(a)))
    assert(deleteFiles(t).map(_.rows).sum == 1)
    assertDeleteAccounting(t)
  }

  test("legacy delete entry: several targets, no per-target counts") {
    // an entry written before writes reported per-target rows: the op
    // counts its positions with a job and classifies exactly as before
    val t = threeFileTable()
    val Seq(a, b, _) = dataFiles(t).map(_.path)
    assert(t.delete(col("id").isin(1, 2, 101)) == 3)
    val legacy = t.meta.currentSnapshot.get.files.map(f =>
      if (f.isData) f else f.copy(deleteTargetRows = Map.empty))
    t.importSnapshot(legacy)
    assert(deleteFiles(t).nonEmpty && deleteFiles(t).forall(d =>
      d.targets.size == 2 && d.targetRows.isEmpty))
    // file a: 2 existing + 18 = 20% -> copy-on-write; file b: 1 + 1 ->
    // merge-on-read (miscounting the legacy rows flips either)
    assert(t.delete(col("id").between(3, 20) || col("id") === 102) == 19)
    assert(!dataFiles(t).map(_.path).contains(a))
    assert(dataFiles(t).map(_.path).contains(b))
    assert(deleteFiles(t).flatMap(_.targets).toSet ==
      Set(graft.lake.RowIds.normalizePathStr(b)))
    assert(deleteFiles(t).map(_.rows).sum == 2)
    assert(t.read().count() == 300 - 3 - 19)
    assertDeleteAccounting(t)
  }

  test("compact folds merge-on-read state back into clean files") {
    val t = threeFileTable()
    t.delete(col("id").isin(2, 102, 202, 250))
    assert(deleteFiles(t).nonEmpty)
    t.compact()
    assert(deleteFiles(t).isEmpty)
    assert(t.read().count() == 296)
    assert(t.read().filter(col("id") === 2).count() == 0)
  }

  test("merge-on-read update: positions + new row versions, no rewrite") {
    val t = threeFileTable()
    val dataBefore = dataFiles(t).map(_.path).toSet
    val n = t.update(col("id") === 150, Map("value" -> lit("PATCHED")))
    assert(n == 1)
    assert(dataBefore.subsetOf(dataFiles(t).map(_.path).toSet)) // originals kept
    assert(deleteFiles(t).map(_.rows).sum == 1)
    assert(t.read().count() == 300)
    val r = t.read().filter(col("id") === 150).collect()
    assert(r.length == 1 && r.head.getString(1) == "PATCHED")
    assert(t.readIndexed().filter(col("value") === "PATCHED").count() == 1)
  }

  test("row-ids survive merge-on-read: survivors stable, updates fresh") {
    val t = threeFileTable(Map("row_ids" -> "true"))
    val before = t.readWithRowIds().select("id", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    t.delete(col("id") === 7)
    assert(deleteFiles(t).map(_.rows).sum == 1) // MoR even with row ids
    val afterDel = t.readWithRowIds().select("id", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(!afterDel.contains(7))
    assert(afterDel.forall { case (id, rid) => before(id) == rid })
    t.update(col("id") === 8, Map("value" -> lit("v2")))
    val afterUpd = t.readWithRowIds().select("id", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(afterUpd(8) != before(8)) // new row version, fresh id
    assert(afterUpd.filterNot(_._1 == 8)
      .forall { case (id, rid) => before(id) == rid })
  }

  test("changelog reports merge-on-read deletes as delete rows") {
    val t = threeFileTable()
    val from = t.meta.currentSnapshotId
    t.delete(col("id").isin(3, 103))
    val to = t.meta.currentSnapshotId
    val ch = t.changes(from, to).collect()
    assert(ch.count(_.getString(2) == "delete") == 2)
    assert(ch.count(_.getString(2) == "insert") == 0)
  }

  test("iceberg export emits v2 delete manifests external readers apply") {
    val t = threeFileTable()
    t.delete(col("id").isin(9, 120))
    val path = graft.lake.IcebergExport.export(t)
    // round trip through the EXTERNAL reader: the exported delete
    // manifest removes exactly the deleted positions
    val back = graft.sources.IcebergSnapshot.read(spark, path)
    assert(back.count() == 298)
    assert(back.filter(col("id") === 9).count() == 0)
    assert(back.filter(col("id") === 10).count() == 1)
    // and the inspection surface shows the delete files as content=1
    val dels = graft.sources.IcebergSnapshot.deleteFiles(path)
    assert(dels.nonEmpty && dels.forall(_.content == 1))
  }

  test("exported position deletes are spec-exact for external readers") {
    // The Iceberg spec requires (a) each delete row's file_path to
    // EQUAL the data file's manifest location string — external
    // engines string-match, they do not normalize — and (b) the
    // reserved field ids 2147483546 (file_path) / 2147483545 (pos)
    // in the delete parquet schema. Checked against the raw exported
    // artifacts, not through this repo's own normalizing reader.
    val t = threeFileTable()
    t.delete(col("id").isin(9, 120))
    val path = graft.lake.IcebergExport.export(t)

    val dataUris = graft.sources.IcebergSnapshot.files(spark, path)
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(dataUris.forall(_.startsWith("file://")))

    val dels = graft.sources.IcebergSnapshot.deleteFiles(path)
    assert(dels.nonEmpty)
    for (d <- dels) {
      val rows = spark.read.parquet(d.path).collect()
      assert(rows.nonEmpty)
      for (r <- rows) {
        val fp = r.getAs[String]("file_path")
        assert(dataUris.contains(fp),
          s"delete row file_path '$fp' not an exact manifest data " +
            s"location; locations: $dataUris")
      }
      // footer-level reserved field ids (what Trino/Spark+Iceberg read)
      val local = d.path.replaceFirst("^file:/+", "/")
      val conf = new org.apache.hadoop.conf.Configuration()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(local), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val mt = reader.getFooter.getFileMetaData.getSchema
        def id(n: String) = Option(mt.getType(Seq(n): _*).getId)
          .map(_.intValue()).getOrElse(-1)
        assert(id("file_path") == 2147483546,
          s"file_path field id ${id("file_path")}")
        assert(id("pos") == 2147483545, s"pos field id ${id("pos")}")
      } finally reader.close()
    }
  }
}

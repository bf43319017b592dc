package graft

import graft.lake.{IcebergExport, LakeTable}
import graft.sources.IcebergSnapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg interop roundtrip: LakeTable snapshot → Iceberg v2 metadata
  * (metadata.json + Avro manifests) → external-snapshot scan.
  */
class IcebergInteropSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("export + external read roundtrip preserves rows and schema") {
    val src = Tables.df(spark, sf, "orders")
    val t = LakeTable.createAsSelect(spark, LakeEngine.tempLocation("ice"),
      "orders_ice", src, targetFiles = Some(3))
    val metaPath = IcebergExport.export(t)

    assert(IcebergSnapshot.schemaOf(metaPath).fieldNames.toSeq ==
      src.schema.fieldNames.toSeq)

    val back = IcebergSnapshot.read(spark, metaPath)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)

    val files = IcebergSnapshot.files(spark, metaPath)
    assert(files.count() == 3)
    assert(files.agg(sum("record_count")).head.getLong(0) == src.count())
  }

  test("export after delete reflects the surviving snapshot only") {
    val src = Tables.df(spark, sf, "nation")
    val t = LakeTable.createAsSelect(spark, LakeEngine.tempLocation("ice2"),
      "nation_ice", src)
    t.delete(col("n_nationkey") < 10)
    val metaPath = IcebergExport.export(t)
    val back = IcebergSnapshot.read(spark, metaPath)
    assert(back.count() == src.filter(col("n_nationkey") >= 10).count())
    assert(back.filter(col("n_nationkey") < 10).isEmpty)
  }

  test("partitioned table exports flat and reads back identically") {
    val src = Tables.df(spark, sf, "events")
    val t = LakeTable.createAsSelect(spark, LakeEngine.tempLocation("ice3"),
      "events_ice", src, partitionSpec = Seq("day(ts)"), targetFiles = Some(4))
    val metaPath = IcebergExport.export(t)
    val back = IcebergSnapshot.read(spark, metaPath)
    assert(back.count() == src.count())
    // timestamp_ntz maps through iceberg "timestamp"
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
  }

  test("exported bounds let an external engine prune data files") {
    val src = Tables.df(spark, sf, "orders").orderBy("o_orderkey")
    val t = LakeTable.createAsSelect(spark, LakeEngine.tempLocation("ice4"),
      "orders_bounds", src, targetFiles = Some(4))
    val metaPath = IcebergExport.export(t)

    // the foreign engine here is our own external-snapshot reader: its
    // only knowledge is the exported metadata, so files skipped proves
    // the manifests carry usable lower/upper bounds
    val maxKey = src.agg(max("o_orderkey")).head.getLong(0)
    val pruned = IcebergSnapshot.read(spark, metaPath)
      .filter(col("o_orderkey") > lit(maxKey - 5))
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val expect = src.filter(col("o_orderkey") > maxKey - 5).count()
    // collect() drives pruned's OWN query execution, so the captured
    // scan node's metrics are the ones that ran
    assert(pruned.collect().length == expect)
    assert(scan.metrics("numFiles").value < 4,
      s"expected bounds pruning, scanned ${scan.metrics("numFiles").value} files")

    // null counts survive the roundtrip: IS NOT NULL prunes nothing but
    // stays correct, IS NULL on a non-null column still scans all rows
    assert(IcebergSnapshot.read(spark, metaPath)
      .filter(col("o_orderstatus").isNotNull).count() == src.count())
  }

  test("partitioned export carries the real spec and partition tuples") {
    val src = Tables.df(spark, sf, "events")
    // default fanout = one file per partition tuple, the exportable
    // shape; a targetFiles cap that packs several days into one file
    // correctly falls back to spec-0 (covered by the test above)
    val t = LakeTable.createAsSelect(spark, LakeEngine.tempLocation("ice5"),
      "events_spec", src, partitionSpec = Seq("day(ts)"))
    val metaPath = IcebergExport.export(t)

    val root = IcebergSnapshot.metadata(metaPath)
    val spec = root.get("partition-specs").get(0).get("fields")
    assert(spec.size() == 1)
    assert(spec.get(0).get("transform").asText() == "day")
    assert(spec.get(0).get("field-id").asInt() == 1000)
    val tsId = IcebergSnapshot.fieldDefs(metaPath)
      .find(_.name == "ts").get.id
    assert(spec.get(0).get("source-id").asInt() == tsId)

    // partition tuple sanity: manifest day values are epoch days, one
    // per file, within the fixture's date range
    import scala.jdk.CollectionConverters._
    val mlPath = root.get("snapshots").get(0).get("manifest-list").asText()
    val manifest = {
      val rdr = org.apache.avro.file.DataFileReader.openReader(
        new java.io.File(mlPath.stripPrefix("file://")),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try rdr.iterator().asScala.next().get("manifest_path").toString
      finally rdr.close()
    }
    val entries = {
      val rdr = org.apache.avro.file.DataFileReader.openReader(
        new java.io.File(manifest.stripPrefix("file://")),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try rdr.iterator().asScala.toList finally rdr.close()
    }
    val days = entries.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("ts__day").asInstanceOf[Int])
    val (lo, hi) = (src.agg(min(to_date(col("ts")))).head.getDate(0),
      src.agg(max(to_date(col("ts")))).head.getDate(0))
    days.foreach { d =>
      assert(d >= lo.toLocalDate.toEpochDay && d <= hi.toLocalDate.toEpochDay,
        s"day partition value $d outside fixture range")
    }
  }

  test("v2 position deletes apply; equality deletes apply with seq gating") {
    import java.nio.file.{Files, Paths}
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import scala.jdk.CollectionConverters._

    val src = Tables.df(spark, sf, "nation")
    val t = LakeTable.createAsSelect(spark, LakeEngine.tempLocation("icedel"),
      "nation_del", src, targetFiles = Some(2))
    val metaPath = IcebergExport.export(t)
    val metaDir = Paths.get(metaPath).getParent

    // the row being deleted: position 0 of the first data file
    val victimFile = IcebergSnapshot.files(spark, metaPath)
      .orderBy("file_path").select("file_path").head.getString(0)
    val victimKey = spark.read
      .parquet(victimFile.stripPrefix("file://"))
      .withColumn("__pos", col("_metadata.row_index"))
      .filter(col("__pos") === 0).head
      .getAs[Number]("n_nationkey").longValue()

    // position-delete parquet per spec: (file_path, pos)
    import spark.implicits._
    val delDataDir = Files.createTempDirectory("posdel").toString + "/d"
    Seq((victimFile, 0L)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(delDataDir)
    val delParquet = Files.list(Paths.get(delDataDir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).next()

    // delete manifest (data_file.content = 1 position / 2 equality)
    val delEntrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"},
        |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}""".stripMargin)
    def writeDeleteManifest(path: String, content: Int, parquet: String,
        eqIds: Seq[Int]): Long = {
      val df = new GenericData.Record(
        delEntrySchema.getField("data_file").schema())
      df.put("content", content)
      df.put("file_path", "file://" + parquet)
      df.put("file_format", "PARQUET")
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", Files.size(Paths.get(parquet)))
      if (eqIds.nonEmpty)
        df.put("equality_ids",
          eqIds.map(Int.box).asJava: java.util.List[Integer])
      val e = new GenericData.Record(delEntrySchema)
      e.put("status", 1)
      e.put("data_file", df)
      val w = new DataFileWriter(
        new GenericDatumWriter[GenericRecord](delEntrySchema))
      w.create(delEntrySchema, new java.io.File(path))
      w.append(e)
      w.close()
      Files.size(Paths.get(path))
    }

    // splice a content=1 row into a copy of the manifest list, then a
    // metadata.json pointing at it — exactly what a foreign writer's
    // merge-on-read commit produces
    def spliceMetadata(tag: String, deleteContent: Int,
        parquet: String = delParquet, delSeq: Long = 2L,
        eqIds: Seq[Int] = Nil): String = {
      val delManifest = metaDir.resolve(s"delete-m-$tag.avro").toString
      val delLen = writeDeleteManifest(delManifest, deleteContent, parquet,
        eqIds)
      val root = IcebergSnapshot.metadata(metaPath)
      val mlPath = root.get("snapshots").get(0).get("manifest-list").asText()
        .stripPrefix("file://")
      val rdr = DataFileReader.openReader(new java.io.File(mlPath),
        new GenericDatumReader[GenericRecord]())
      val mlSchema = rdr.getSchema
      val rows = rdr.iterator().asScala.toList
      rdr.close()
      val delRow = new GenericData.Record(mlSchema)
      delRow.put("manifest_path", "file://" + delManifest)
      delRow.put("manifest_length", delLen)
      delRow.put("partition_spec_id", 0)
      delRow.put("content", 1)
      delRow.put("sequence_number", delSeq)
      delRow.put("min_sequence_number", delSeq)
      delRow.put("added_snapshot_id",
        root.get("current-snapshot-id").asLong())
      delRow.put("added_files_count", 1)
      delRow.put("existing_files_count", 0)
      delRow.put("deleted_files_count", 0)
      delRow.put("added_rows_count", 1L)
      delRow.put("existing_rows_count", 0L)
      delRow.put("deleted_rows_count", 0L)
      val newMl = metaDir.resolve(s"snap-del-$tag.avro").toString
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](mlSchema))
      w.create(mlSchema, new java.io.File(newMl))
      (rows :+ delRow).foreach(w.append)
      w.close()
      val newMeta = metaDir.resolve(s"vdel-$tag.metadata.json")
      Files.write(newMeta, new String(Files.readAllBytes(Paths.get(metaPath)))
        .replace(mlPath, newMl).getBytes)
      newMeta.toString
    }

    val posMeta = spliceMetadata("pos", deleteContent = 1)
    val back = IcebergSnapshot.read(spark, posMeta)
    assert(back.count() == src.count() - 1)
    assert(back.filter(col("n_nationkey") === victimKey).isEmpty,
      s"row $victimKey at position 0 should be deleted")
    assert(back.exceptAll(src.filter(col("n_nationkey") =!= victimKey))
      .isEmpty)

    // equality deletes: delete n_nationkey ∈ {11, 12} by value
    val keyId = IcebergSnapshot.fieldDefs(metaPath)
      .find(_.name == "n_nationkey").get.id
    val dataSeq = IcebergSnapshot.dataFiles(metaPath).map(_.seq).max
    val eqDataDir = Files.createTempDirectory("eqdel").toString + "/d"
    src.filter(col("n_nationkey").isin(11, 12)).select("n_nationkey")
      .coalesce(1).write.parquet(eqDataDir)
    val eqParquet = Files.list(Paths.get(eqDataDir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).next()

    val eqMeta = spliceMetadata("eq", deleteContent = 2, parquet = eqParquet,
      delSeq = dataSeq + 1, eqIds = Seq(keyId))
    val eqBack = IcebergSnapshot.read(spark, eqMeta)
    assert(eqBack.count() == src.count() - 2)
    assert(eqBack.filter(col("n_nationkey").isin(11, 12)).isEmpty)
    assert(eqBack.exceptAll(src.filter(!col("n_nationkey").isin(11, 12)))
      .isEmpty)

    // the spec's sequence gate: an equality delete at the SAME data
    // sequence number as the data files must not remove anything
    val staleMeta = spliceMetadata("eqstale", deleteContent = 2,
      parquet = eqParquet, delSeq = dataSeq, eqIds = Seq(keyId))
    assert(IcebergSnapshot.read(spark, staleMeta).count() == src.count())
  }

  test("object-store catalog: listing + version-hint attach roundtrip") {
    val e = LakeEngine(spark)
    val r = Tables.df(spark, sf, "region")
    val n = Tables.df(spark, sf, "nation")
    val rt = e.createTableAsSelect("cat_region",
      LakeEngine.tempLocation("cat1"), r)
    e.createTableAsSelect("cat_nation", LakeEngine.tempLocation("cat2"), n)

    val listing = e.icebergTables(export = true).collect()
      .map(row => row.getString(0) -> row.getString(2)).toMap
    assert(listing.keySet.contains("cat_region") &&
      listing.keySet.contains("cat_nation"))

    // attach by catalog listing, as a foreign engine would
    listing.foreach { case (name, metaLoc) =>
      assert(metaLoc != null)
      val back = IcebergSnapshot.read(spark, metaLoc)
      val orig = if (name == "cat_region") r else n
      assert(back.count() == orig.count())
    }

    // the auto-export property keeps version-hint current across DML
    val loc3 = LakeEngine.tempLocation("cat3")
    val t3 = LakeTable.createAsSelect(spark, loc3, "cat_auto", r,
      properties = Map("iceberg.export" -> "true"))
    val hint1 = graft.lake.IcebergExport.currentMetadata(loc3)
    t3.delete(col("r_regionkey") === 0)
    val hint2 = graft.lake.IcebergExport.currentMetadata(loc3)
    assert(hint1.isDefined && hint2.isDefined && hint1 != hint2,
      "commit did not advance the exported catalog pointer")
    assert(IcebergSnapshot.read(spark, hint2.get).count() == r.count() - 1)
  }

  test("empty table exports and attaches (reference test_iceberg_empty_table)") {
    import org.apache.spark.sql.types._
    val t = LakeTable.create(spark, LakeEngine.tempLocation("empt"),
      "empty_t", StructType(Seq(StructField("a", IntegerType),
        StructField("b", StringType))))
    val meta = graft.lake.IcebergExport.export(t)
    val back = IcebergSnapshot.read(spark, meta)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("a", "b"))
    // the inspection surfaces answer sanely on an empty snapshot
    assert(IcebergSnapshot.files(spark, meta).count() == 0)
    assert(IcebergSnapshot.deleteFiles(meta).isEmpty)
  }

  test("external FT pinned to its metadata path until repointed") {
    // reference test_iceberg_alter_external_path.py happy path: a
    // foreign table over a metadata.json stays at THAT snapshot while
    // the source table moves on; ALTER (here: re-register with the
    // new path) picks up the new state
    import spark.implicits._
    val e = LakeEngine(spark)
    val t = LakeTable.createAsSelect(spark,
      LakeEngine.tempLocation("extpin"), "ext_pin_src",
      Seq(1L, 2L).toDF("a"))
    val meta1 = graft.lake.IcebergExport.export(t)
    e.createLakeTable("ext_pin", meta1, format = Some("iceberg"))
    assert(spark.sql("SELECT count(*) FROM ext_pin").head.getLong(0) == 2)

    t.append(Seq(3L, 4L, 5L).toDF("a"))
    val meta2 = graft.lake.IcebergExport.export(t)
    assert(meta2 != meta1, "export must version the metadata files")
    // still pinned to the old snapshot until the path is updated
    assert(spark.sql("SELECT count(*) FROM ext_pin").head.getLong(0) == 2)
    // repoint: the ALTER FOREIGN TABLE ... OPTIONS (SET path) analogue
    e.createLakeTable("ext_pin", meta2, format = Some("iceberg"))
    assert(spark.sql("SELECT count(*) FROM ext_pin").head.getLong(0) == 5)
  }
}

package graft

import graft.sources.DeltaSnapshot
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta-log replay against a hand-built (spec-conformant) table:
  * two commits with add/remove actions over real parquet files.
  */
class DeltaSnapshotSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("delta log replay: add/remove across commits") {
    val src = Tables.df(spark, sf, "region")
    val dir = Files.createTempDirectory("delta").toString

    // two data files written as plain parquet
    src.filter(col("r_regionkey") < 3).coalesce(1)
      .write.parquet(s"$dir/f1")
    src.filter(col("r_regionkey") >= 3).coalesce(1)
      .write.parquet(s"$dir/f2")
    def partFile(sub: String): String = {
      val s = Files.list(Paths.get(dir, sub))
      try sub + "/" + s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    val (p1, p2) = (partFile("f1"), partFile("f2"))

    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    val schemaString = src.schema.json.replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
          |{"metaData":{"id":"t1","format":{"provider":"parquet"},"schemaString":"$schemaString","partitionColumns":[],"configuration":{}}}
          |{"add":{"path":"$p1","size":${Files.size(Paths.get(dir, p1))},"modificationTime":0,"dataChange":true}}
          |""".stripMargin).getBytes)

    // commit 1: full table = f1 only
    assert(DeltaSnapshot.read(spark, dir).count() ==
      src.filter(col("r_regionkey") < 3).count())

    // commit 2: remove f1, add f2
    Files.write(logDir.resolve("0" * 19 + "1.json"),
      (s"""{"remove":{"path":"$p1","dataChange":true}}
          |{"add":{"path":"$p2","size":${Files.size(Paths.get(dir, p2))},"modificationTime":0,"dataChange":true}}
          |""".stripMargin).getBytes)

    val back = DeltaSnapshot.read(spark, dir)
    assert(back.count() == src.filter(col("r_regionkey") >= 3).count())
    assert(back.schema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
    assert(DeltaSnapshot.schemaOf(spark, dir) == src.schema)

    // facade registration
    val e = LakeEngine(spark)
    e.createLakeTable("delta_region", dir, format = Some("delta"))
    assert(spark.sql("SELECT count(*) FROM delta_region").head.getLong(0) ==
      back.count())
  }

  test("checkpoint replay over a cleaned log + partition reconstruction") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("deltacp").toString
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)

    // data files WITHOUT the partition column (delta stores it in the
    // path / partitionValues only)
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name").coalesce(1)
      .write.parquet(s"$dir/p=a/f1")
    Seq((3L, "gamma")).toDF("id", "name").coalesce(1)
      .write.parquet(s"$dir/p=b/f2")
    def partFile(sub: String): String = {
      val s = Files.list(Paths.get(dir, sub))
      try sub + "/" + s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    val (p1, p2) = (partFile("p=a/f1"), partFile("p=b/f2"))
    // the protocol requires add.size to be the REAL file length — the
    // single-scan FileIndex hands it to the parquet reader as the split
    // bound, so a lying size would truncate the scan
    val (s1, s2) = (Files.size(Paths.get(dir, p1)), Files.size(Paths.get(dir, p2)))

    val tableSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("p", StringType)))

    // checkpoint at version 1: metaData + the f1 add (as if versions
    // 0..1 were compacted); versions 0..1 JSON already "cleaned" away
    val cp = spark.sql(
      s"""SELECT named_struct('path', '$p1',
         |  'partitionValues', map('p', 'a'),
         |  'size', ${s1}L, 'modificationTime', 0L, 'dataChange', true) AS add,
         |  CAST(NULL AS STRUCT<schemaString: STRING,
         |    partitionColumns: ARRAY<STRING>,
         |    configuration: MAP<STRING, STRING>>) AS metaData
         |UNION ALL
         |SELECT NULL,
         |  named_struct('schemaString', '${tableSchema.json.replace("'", "''")}',
         |    'partitionColumns', array('p'),
         |    'configuration', map())""".stripMargin)
    cp.coalesce(1).write.parquet(s"$logDir/cp_tmp")
    val cpFile = {
      val s = Files.list(Paths.get(s"$logDir/cp_tmp"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    Files.move(Paths.get(s"$logDir/cp_tmp/$cpFile"),
      logDir.resolve("0" * 19 + "1.checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"),
      """{"version":1,"size":2}""".getBytes)

    // version 2 JSON on top: add f2 (partition p=b)
    Files.write(logDir.resolve("0" * 19 + "2.json"),
      (s"""{"add":{"path":"$p2","partitionValues":{"p":"b"},"size":$s2,"modificationTime":0,"dataChange":true}}
          |""".stripMargin).getBytes)

    val back = DeltaSnapshot.read(spark, dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "p"))
    val rows = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, "alpha", "a"), (2L, "beta", "a"),
      (3L, "gamma", "b")))
    // partition reconstruction must not cost one scan per tuple: the
    // whole table plans as a SINGLE FileScan node
    assert(back.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size == 1, "partitioned delta read should be one scan node")
    // partition filters prune at the index (only p=b files survive)
    val pruned = DeltaSnapshot.read(spark, dir).filter(col("p") === "b")
    assert(pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.inputRDDs().map(_.partitions.length).sum <= 1)
    assert(pruned.count() == 1)

    // a declared multi-part checkpoint with a missing part must refuse
    Files.write(logDir.resolve("_last_checkpoint"),
      """{"version":1,"size":2,"parts":2}""".getBytes)
    intercept[IllegalArgumentException] { DeltaSnapshot.read(spark, dir) }
    Files.write(logDir.resolve("_last_checkpoint"),
      """{"version":1,"size":2}""".getBytes)

    // a gap AFTER the checkpoint must refuse, not silently drop
    Files.write(logDir.resolve("0" * 19 + "4.json"),
      """{"add":{"path":"nope.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""".getBytes)
    intercept[IllegalArgumentException] { DeltaSnapshot.read(spark, dir) }
    Files.delete(logDir.resolve("0" * 19 + "4.json"))

    // no checkpoint + log not from 0 must refuse
    Files.delete(logDir.resolve("_last_checkpoint"))
    intercept[IllegalArgumentException] { DeltaSnapshot.read(spark, dir) }
  }

  // ---------------------------------------------- DV fixture writers
  // Serialized field-by-field from the public Delta protocol
  // ("Deletion Vectors") and the RoaringFormatSpec portable format —
  // never by the reader under test.

  private def leInt(out: java.io.ByteArrayOutputStream, v: Int): Unit =
    (0 until 4).foreach(k => out.write((v >> (8 * k)) & 0xff))
  private def leShort(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  /** Portable RoaringBitmapArray bytes for the given row indices.
    * `runKeys`: container keys to serialize as run containers (the
    * rest use array containers below card 4097, bitsets above).
    */
  private def roaringArray(indices: Seq[Long],
      runKeys: Set[Int] = Set.empty): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    leInt(out, 1681511377) // magic
    val byBitmap = indices.groupBy(i => (i >> 32).toInt)
    val n = if (indices.isEmpty) 0 else byBitmap.keys.max + 1
    leInt(out, n); leInt(out, 0) // int64 LE bitmap count
    (0 until n).foreach { b =>
      val vals = byBitmap.getOrElse(b, Nil).map(i => (i & 0xffffffffL).toInt)
        .sorted
      val containers = vals.groupBy(_ >>> 16).toSeq.sortBy(_._1)
      val size = containers.length
      val runFlagged = containers.map(c => runKeys.contains(c._1))
      if (runFlagged.exists(identity)) {
        leInt(out, 12347 | ((size - 1) << 16)) // SERIAL_COOKIE
        val flags = new Array[Byte]((size + 7) / 8)
        runFlagged.zipWithIndex.foreach { case (f, i) =>
          if (f) flags(i / 8) = (flags(i / 8) | (1 << (i % 8))).toByte
        }
        out.write(flags)
      } else {
        leInt(out, 12346); leInt(out, size) // NO_RUNCONTAINER cookie
      }
      containers.foreach { case (k, vs) =>
        leShort(out, k); leShort(out, vs.length - 1)
      }
      if (!runFlagged.exists(identity) || size >= 4)
        containers.foreach(_ => leInt(out, 0)) // offsets (derived; unread)
      containers.zip(runFlagged).foreach { case ((_, vs), isRun) =>
        val low = vs.map(_ & 0xffff)
        if (isRun) {
          // collapse sorted values into (start, len) runs
          val runs = low.foldLeft(Vector.empty[(Int, Int)]) {
            case (acc :+ ((s, l)), v) if v == s + l + 1 => acc :+ (s, l + 1)
            case (acc, v) => acc :+ (v, 0)
          }
          leShort(out, runs.length)
          runs.foreach { case (s, l) => leShort(out, s); leShort(out, l) }
        } else if (low.length <= 4096) low.foreach(leShort(out, _))
        else {
          val words = new Array[Long](1024)
          low.foreach(v => words(v / 64) |= 1L << (v % 64))
          words.foreach { w =>
            (0 until 8).foreach(k => out.write(((w >> (8 * k)) & 0xff).toInt))
          }
        }
      }
    }
    out.toByteArray
  }

  /** On-disk DV file: version byte, then one framed blob per entry;
    * returns (file bytes, offsets aligned with `datas`).
    */
  private def dvFile(datas: Seq[Array[Byte]]): (Array[Byte], Seq[Long]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(1) // format version
    val offsets = datas.map { data =>
      val off = out.size().toLong
      val crc = new java.util.zip.CRC32(); crc.update(data)
      val bb = java.nio.ByteBuffer.allocate(4)
      out.write(bb.putInt(0, data.length).array())
      out.write(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(0, crc.getValue.toInt).array())
      off
    }
    (out.toByteArray, offsets)
  }

  private def z85Encode(bytes: Array[Byte]): String = {
    val alphabet = "0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
    require(bytes.length % 4 == 0)
    bytes.grouped(4).map { g =>
      var v = g.foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
      val cs = new Array[Char](5)
      (4 to 0 by -1).foreach { k => cs(k) = alphabet((v % 85).toInt); v /= 85 }
      new String(cs)
    }.mkString
  }

  test("deletion vectors mask rows: u/p/i storage, all container kinds") {
    import graft.sources.DeletionVectors
    import spark.implicits._
    val dir = Files.createTempDirectory("deltadv").toString
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)

    // f1: 8 rows; f2: 6000 rows (big enough for a bitset container)
    val f1df = (0L until 8L).map(i => (i, s"r$i")).toDF("id", "name")
    val f2df = (100L until 6100L).map(i => (i, s"s$i")).toDF("id", "name")
    f1df.coalesce(1).write.parquet(s"$dir/f1")
    f2df.coalesce(1).write.parquet(s"$dir/f2")
    def partFile(sub: String): String = {
      val s = Files.list(Paths.get(dir, sub))
      try sub + "/" + s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    val (p1, p2) = (partFile("f1"), partFile("f2"))

    // f1's DV lives in a "u"-addressed file (z85 uuid, random prefix),
    // masking physical rows 1 and 3 via an ARRAY container
    val uuid = java.util.UUID.randomUUID()
    val uuidBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits)
      .putLong(uuid.getLeastSignificantBits).array()
    val dv1data = roaringArray(Seq(1L, 3L))
    // f2's DV shares the same file: 5000 rows (BITSET container) plus
    // a RUN container in a second 64k key block
    val dv2data = roaringArray((0L until 5000L) ++ (65536L to 65546L),
      runKeys = Set(1))
    val (dvBytes, offs) = dvFile(Seq(dv1data, dv2data))
    Files.createDirectories(Paths.get(dir, "ab"))
    Files.write(
      Paths.get(dir, "ab", s"deletion_vector_$uuid.bin"), dvBytes)
    val uPath = "ab" + z85Encode(uuidBytes)

    val schemaString = f1df.schema.json.replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"),
      (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}
          |{"metaData":{"id":"t2","format":{"provider":"parquet"},"schemaString":"$schemaString","partitionColumns":[],"configuration":{}}}
          |{"add":{"path":"$p1","size":${Files.size(Paths.get(dir, p1))},"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$uPath","offset":${offs(0)},"sizeInBytes":${dv1data.length},"cardinality":2}}}
          |{"add":{"path":"$p2","size":${Files.size(Paths.get(dir, p2))},"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$uPath","offset":${offs(1)},"sizeInBytes":${dv2data.length},"cardinality":5011}}}
          |""".stripMargin).getBytes)

    val back = DeltaSnapshot.read(spark, dir)
    // f1 loses ids 1,3 (file written in order); f2 loses its first
    // 5000 rows and 11 more at indices 65536..65546 — but f2 only has
    // 6000 rows, so the run block is simply absent from the file
    assert(back.filter(col("id") < 100).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L, 5L, 6L, 7L))
    assert(back.filter(col("id") >= 100).count() == 1000)
    assert(back.filter(col("id") >= 100).agg(min("id")).head.getLong(0)
      == 5100L)

    // commit 1 swaps f1's mask for an INLINE DV (run container, rows
    // 0..2) — the remove+add pair a real DV update writes
    val inline = z85Encode {
      val d = roaringArray(Seq(0L, 1L, 2L), runKeys = Set(0))
      d ++ new Array[Byte]((4 - d.length % 4) % 4) // z85 needs 4-byte align
    }
    Files.write(logDir.resolve("0" * 19 + "1.json"),
      (s"""{"remove":{"path":"$p1","dataChange":true}}
          |{"add":{"path":"$p1","size":${Files.size(Paths.get(dir, p1))},"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","offset":null,"sizeInBytes":${roaringArray(Seq(0L, 1L, 2L), runKeys = Set(0)).length},"cardinality":3}}}
          |""".stripMargin).getBytes)
    val back2 = DeltaSnapshot.read(spark, dir)
    assert(back2.filter(col("id") < 100).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L, 6L, 7L))

    // absolute "p" storage decodes the same bytes
    val (pBytes, pOffs) = dvFile(Seq(roaringArray(Seq(0L))))
    val pFile = Paths.get(dir, "abs_dv.bin")
    Files.write(pFile, pBytes)
    assert(DeletionVectors.deletedRows(dir,
      DeletionVectors.Descriptor("p", pFile.toString, Some(pOffs.head),
        roaringArray(Seq(0L)).length, 1),
      spark.sparkContext.hadoopConfiguration).toSeq == Seq(0L))

    // corrupt crc refuses loudly
    val broken = pBytes.clone(); broken(pBytes.length - 6) =
      (broken(pBytes.length - 6) ^ 0x7f).toByte
    Files.write(pFile, broken)
    intercept[IllegalArgumentException] {
      DeletionVectors.deletedRows(dir,
        DeletionVectors.Descriptor("p", pFile.toString, Some(pOffs.head),
          roaringArray(Seq(0L)).length, 1),
        spark.sparkContext.hadoopConfiguration)
    }
  }

  test("deletion vectors survive the checkpoint path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("deltadvcp").toString
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    val df = (0L until 5L).map(i => (i, s"c$i")).toDF("id", "name")
    df.coalesce(1).write.parquet(s"$dir/f1")
    val p1 = {
      val s = Files.list(Paths.get(dir, "f1"))
      try "f1/" + s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    val size1 = Files.size(Paths.get(dir, p1))
    val inline = z85Encode {
      val d = roaringArray(Seq(1L, 2L))
      d ++ new Array[Byte]((4 - d.length % 4) % 4)
    }
    val dvLen = roaringArray(Seq(1L, 2L)).length
    // checkpoint row carries the add WITH its deletionVector struct
    val cp = spark.sql(
      s"""SELECT named_struct('path', '$p1',
         |  'partitionValues', CAST(map() AS MAP<STRING, STRING>),
         |  'size', ${size1}L, 'modificationTime', 0L, 'dataChange', true,
         |  'deletionVector', named_struct(
         |    'storageType', 'i', 'pathOrInlineDv', '$inline',
         |    'offset', CAST(NULL AS BIGINT), 'sizeInBytes', $dvLen,
         |    'cardinality', 2L)) AS add,
         |  CAST(NULL AS STRUCT<schemaString: STRING,
         |    partitionColumns: ARRAY<STRING>,
         |    configuration: MAP<STRING, STRING>>) AS metaData
         |UNION ALL
         |SELECT NULL,
         |  named_struct('schemaString', '${df.schema.json.replace("'", "''")}',
         |    'partitionColumns', CAST(array() AS ARRAY<STRING>),
         |    'configuration', map())""".stripMargin)
    cp.coalesce(1).write.parquet(s"$logDir/cp_tmp")
    val cpFile = {
      val s = Files.list(Paths.get(s"$logDir/cp_tmp"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    Files.move(Paths.get(s"$logDir/cp_tmp/$cpFile"),
      logDir.resolve("0" * 20 + ".checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"),
      """{"version":0,"size":2}""".getBytes)
    val back = DeltaSnapshot.read(spark, dir)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 3L, 4L))
  }

  /** The many-file scale probe (VERDICT r12 next-round #4, SCALE.md
    * convention): a 10k-add checkpoint must never materialize the
    * add-set on the driver — resolve() keeps it a DataFrame, the
    * FileIndex collects (a) the DISTINCT partition tuples (bounded by
    * partition count) and (b) only the file entries partition pruning
    * keeps. A one-partition query over 10,000 files collects 100
    * entries, not 10,000.
    */
  test("10k-add checkpoint: pruned listing materializes only the " +
      "surviving partition") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("delta-10k").toString
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    val schemaString =
      StructType(Seq(StructField("id", LongType),
        StructField("p", StringType))).json
    // checkpoint rows: one metaData + 10,000 adds (100 partitions ×
    // 100 files), written as the real compacted-state parquet
    val mdDf = spark.sql(
      s"""SELECT named_struct(
         |  'schemaString', '${schemaString.replace("'", "\\'")}',
         |  'partitionColumns', array('p'),
         |  'configuration', map('x', 'y')) AS metaData,
         |  CAST(NULL AS STRUCT<path: STRING, size: BIGINT,
         |    partitionValues: MAP<STRING, STRING>>) AS add""".stripMargin)
    val addsDf = spark.range(10000).selectExpr(
      "CAST(NULL AS STRUCT<schemaString: STRING, " +
        "partitionColumns: ARRAY<STRING>, " +
        "configuration: MAP<STRING, STRING>>) AS metaData",
      "named_struct('path', concat('part-', id, '.parquet'), " +
        "'size', 10L, " +
        "'partitionValues', map('p', CAST(id % 100 AS STRING))) AS add")
    mdDf.unionByName(addsDf).coalesce(1)
      .write.parquet(s"$logDir/cp_tmp")
    val cpFile = {
      val s = Files.list(Paths.get(s"$logDir/cp_tmp"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).next()
      finally s.close()
    }
    Files.move(Paths.get(s"$logDir/cp_tmp/$cpFile"),
      logDir.resolve("0" * 20 + ".checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"),
      """{"version":0,"size":10001}""".getBytes)

    val st = DeltaSnapshot.resolve(spark, dir)
    assert(st.partitionColumns == Seq("p"))
    val partSchema = StructType(Seq(StructField("p", StringType)))
    val idx = new graft.sources.DeltaFileIndex(dir, partSchema, st)
    assert(idx.lastMaterialized == 0,
      "index construction must not materialize file entries")

    // a pruned listing: one partition survives → 100 entries, not 10k
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    val p = AttributeReference("p", StringType)()
    val dirs = idx.listFiles(
      Seq(EqualTo(p, Literal(UTF8String.fromString("7"), StringType))), Nil)
    assert(dirs.size == 1)
    assert(dirs.head.files.size == 100)
    assert(idx.lastMaterialized == 100,
      s"pruned listing materialized ${idx.lastMaterialized} entries " +
        "(expected 100 — the surviving partition only)")

    // a filter matching NO partition lists nothing (and must not
    // blow up on the empty surviving set)
    val none = idx.listFiles(
      Seq(EqualTo(p, Literal(UTF8String.fromString("nope"), StringType))),
      Nil)
    assert(none.isEmpty && idx.lastMaterialized == 0)

    // the unpruned listing is the documented O(files)-at-plan-time
    // path (Spark's FileIndex contract) — and it still lists all 10k
    val all = idx.listFiles(Nil, Nil)
    assert(all.map(_.files.size).sum == 10000)
    assert(all.size == 100, "one PartitionDirectory per tuple")
  }
}

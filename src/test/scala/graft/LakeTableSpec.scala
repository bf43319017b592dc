package graft

import graft.lake._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LakeTableSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshLoc() = LakeEngine.tempLocation("laketest")

  test("ctas roundtrip preserves rows and schema") {
    val src = Tables.df(spark, sf, "orders")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "orders_t", src)
    assert(t.read().count() == src.count())
    assert(t.read().schema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
    // content equality
    assert(t.read().exceptAll(src).isEmpty && src.exceptAll(t.read()).isEmpty)
  }

  test("append accumulates snapshots") {
    val src = Tables.df(spark, sf, "region")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "r", src)
    t.append(src)
    assert(t.read().count() == 2 * src.count())
    assert(t.meta.snapshots.map(_.operation) ==
      Seq("create", "append", "append"))
  }

  test("partition pruning: day transform skips files, results intact") {
    val src = Tables.df(spark, sf, "events")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "ev", src,
      partitionSpec = Seq("day(ts)"), targetFiles = Some(8))
    val pred = col("ts") >= lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    val (kept, total) = t.pruneStats(pred)
    assert(total == 8, s"expected 8 files, got $total")
    assert(kept < total, s"pruning skipped nothing ($kept/$total)")
    // soundness: pruned scan == unpruned filter
    val expected = src.filter(pred).count()
    assert(t.scan(Some(pred)).count() == expected)
  }

  test("bucket transform: equality pruning + iceberg hash stability") {
    val src = Tables.df(spark, sf, "events")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "evb", src,
      partitionSpec = Seq("bucket(8, user_id)"), targetFiles = Some(8))
    val (kept, total) = t.pruneStats(col("user_id") === 42L)
    assert(kept < total, s"bucket pruning skipped nothing ($kept/$total)")
    assert(t.scan(Some(col("user_id") === 42L)).count() ==
      src.filter(col("user_id") === 42L).count())
    // murmur3 spec vector: iceberg's documented bucket hash of int 34
    // (little-endian long bytes) is 2017239379
    assert(Murmur3X86_32.hash(
      Array[Byte](34, 0, 0, 0, 0, 0, 0, 0), 0) == 2017239379)
  }

  test("partition spec evolution: old files stay readable, new spec prunes") {
    val src = Tables.df(spark, sf, "events")
    val firstHalf = src.filter(col("event_id") % 2 === 0)
    val secondHalf = src.filter(col("event_id") % 2 === 1)
    // start unpartitioned, then evolve to day(ts) and append more
    val t = LakeTable.createAsSelect(spark, freshLoc(), "evolve", firstHalf,
      targetFiles = Some(4))
    t.setPartitionSpec(Seq("day(ts)"))
    t.append(secondHalf, targetFiles = Some(8))
    // full content intact across the spec boundary
    assert(t.read().count() == src.count())
    // a ts predicate prunes at least the post-evolution files; pre-
    // evolution files without day(ts) stats are conservatively kept
    val pred = col("ts") >= lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    val (kept, total) = t.pruneStats(pred)
    assert(kept < total, s"no pruning after evolution ($kept/$total)")
    assert(t.scan(Some(pred)).count() == src.filter(pred).count())
    // invalid transform target refused
    intercept[IllegalArgumentException] {
      t.setPartitionSpec(Seq("day(no_such_col)"))
    }
  }

  test("z-order clustering: both clustered columns prune, content intact") {
    val src = Tables.df(spark, sf, "events")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "zc", src,
      targetFiles = Some(8))
    t.cluster(Seq("user_id", "value"), targetFiles = 8)
    assert(t.read().count() == src.count())
    // predicates on EACH clustered column independently skip files
    // (fixture user_id spans 0..14 at this sf; pick low quantiles)
    val (ku, tu) = t.pruneStats(col("user_id") <= 3L)
    assert(ku < tu, s"user_id pruning after cluster ($ku/$tu)")
    val vLo = Tables.df(spark, sf, "events")
      .selectExpr("percentile(value, 0.2)").head().getDouble(0)
    val (kv, tv) = t.pruneStats(col("value") <= lit(vLo))
    assert(kv < tv, s"value pruning after cluster ($kv/$tv)")
    // correctness of a pruned scan
    val pred = col("user_id") <= 3L && col("value") <= vLo
    assert(t.scan(Some(pred)).count() == src.filter(pred).count())
    intercept[IllegalArgumentException] {
      LakeTable.createAsSelect(spark, freshLoc(), "zp", src.limit(10),
        partitionSpec = Seq("day(ts)")).cluster(Seq("user_id"))
    }

    // clustering survives compaction: unsorted small appends are
    // re-z-ordered by the recorded curve, not blindly merged
    assert(t.meta.properties("cluster.by") == "user_id,value")
    val extra = src.orderBy(rand(7)).limit(2000)
    val extraN = extra.count()
    t.append(extra, targetFiles = Some(4))
    t.compact(smallBytes = Long.MaxValue, targetBytes = 8L << 10)
    val (ku2, tu2) = t.pruneStats(col("user_id") <= 3L)
    assert(ku2 < tu2,
      s"user_id pruning must survive compaction ($ku2/$tu2)")
    assert(t.read().count() == src.count() + extraN)
  }

  test("stats pruning without partition spec") {
    val src = Tables.df(spark, sf, "lineitem").orderBy("l_orderkey")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "li", src,
      targetFiles = Some(6))
    // orderkey-sorted files => tight ranges => selective predicate prunes
    val (kept, total) = t.pruneStats(col("l_orderkey") === 17L)
    assert(total == 6 && kept <= 2, s"$kept/$total")
  }

  test("delete: copy-on-write + full-file fast path") {
    val src = Tables.df(spark, sf, "events")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "evd", src,
      partitionSpec = Seq("day(ts)"), targetFiles = Some(8))
    val pred = col("event_type") === "error"
    val expect = src.filter(pred).count()
    val deleted = t.delete(pred)
    assert(deleted == expect, s"deleted $deleted expected $expect")
    assert(t.read().filter(pred).count() == 0)
    assert(t.read().count() == src.count() - expect)
  }

  test("delete whole partition is metadata-only (no rewrite)") {
    val src = Tables.df(spark, sf, "events")
      .filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
    val t = LakeTable.createAsSelect(spark, freshLoc(), "evp", src,
      partitionSpec = Seq("day(ts)"), targetFiles = Some(2))
    val filesBefore = t.meta.currentSnapshot.get.files.map(_.path).toSet
    val pred = col("ts") < lit("2024-01-02 00:00:00").cast("timestamp_ntz")
    t.delete(pred)
    val filesAfter = t.meta.currentSnapshot.get.files.map(_.path).toSet
    assert(filesAfter.subsetOf(filesBefore),
      "metadata-only delete must not write new files")
    assert(t.read().filter(pred).count() == 0)
  }

  test("update rewrites matching rows") {
    val src = Tables.df(spark, sf, "region")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "ru", src)
    val n = t.update(col("r_name") === "ASIA",
      Map("r_name" -> lit("ASIA_UPDATED")))
    assert(n == 1)
    assert(t.read().filter(col("r_name") === "ASIA_UPDATED").count() == 1)
    assert(t.read().count() == src.count())
  }

  test("time travel reads old snapshots; truncate is metadata-only") {
    val src = Tables.df(spark, sf, "nation")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "tt", src)
    val v1 = t.meta.currentSnapshotId
    t.delete(col("n_nationkey") < 10)
    assert(t.read().count() == src.filter(col("n_nationkey") >= 10).count())
    assert(t.readAsOf(v1).count() == src.count())
    t.truncate()
    assert(t.read().count() == 0)
    assert(t.readAsOf(v1).count() == src.count())
  }

  test("schema evolution: rename + add + drop via field ids") {
    val src = Tables.df(spark, sf, "region")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "se", src)
    t.renameColumn("r_name", "region_name")
    assert(t.read().columns.toSeq == Seq("r_regionkey", "region_name"))
    assert(t.read().filter(col("region_name") === "ASIA").count() == 1)
    t.addColumn("score", "DOUBLE")
    assert(t.read().filter(col("score").isNull).count() == src.count())
    // new writes carry the new column; old files read NULL for it
    t.append(t.read().withColumn("score", lit(1.5)))
    assert(t.read().filter(col("score") === 1.5).count() == src.count())
    t.dropColumn("score")
    assert(t.read().columns.toSeq == Seq("r_regionkey", "region_name"))
  }

  test("compact merges small files, content unchanged") {
    val src = Tables.df(spark, sf, "customer")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "cc", src,
      targetFiles = Some(6))
    val before = t.read().count()
    t.compact(smallBytes = 1L << 30, targetBytes = 1L << 30) // force all
    assert(t.meta.currentSnapshot.get.files.size == 1)
    assert(t.read().count() == before)
  }

  test("expire snapshots deletes orphan files") {
    val src = Tables.df(spark, sf, "region")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "gc", src)
    t.delete(col("r_regionkey") === 0) // rewrite -> old file orphaned later
    t.expireSnapshots(keepLast = 1, graceMs = 0L)
    val referenced = t.meta.snapshots.flatMap(_.files).map(_.path).toSet
    val onDisk = {
      val dir = java.nio.file.Paths.get(t.location, "data")
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(_.toString).toSet
      finally s.close()
    }
    assert(onDisk == referenced,
      s"orphans left: ${onDisk -- referenced}")
    assert(t.read().count() == src.count() - 1)
  }

  test("vacuum leaves no checksum without its file and no marker-only " +
      "commit directory") {
    val src = Tables.df(spark, sf, "nation")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "sweep", src)
    t.update(col("n_nationkey") === 3, Map("n_name" -> lit("PATCHED")))
    t.delete(col("n_nationkey") < 5)
    t.expireSnapshots(keepLast = 1, graceMs = 0L)
    t.vacuum(keepLast = 1, graceMs = 0L)
    val dataDir = java.nio.file.Paths.get(t.location, "data")
    def filesUnder(d: java.nio.file.Path) = {
      val s = java.nio.file.Files.walk(d)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)).toList
      finally s.close()
    }
    val strayCrc = filesUnder(dataDir).filter { p =>
      val name = p.getFileName.toString
      name.startsWith(".") && name.endsWith(".crc") &&
        !java.nio.file.Files.exists(
          p.resolveSibling(name.drop(1).stripSuffix(".crc")))
    }
    val markers = Set("_SUCCESS", "._SUCCESS.crc")
    val markerOnly = {
      val s = java.nio.file.Files.list(dataDir)
      try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .filter(d => filesUnder(d).forall(p =>
          markers.contains(p.getFileName.toString))).toList
      finally s.close()
    }
    assert(strayCrc.isEmpty && markerOnly.isEmpty,
      s"checksums without a file: $strayCrc; " +
        s"marker-only directories: $markerOnly")
    assert(t.read().count() == src.count() - 5)
  }

  test("changelog: snapshot diff yields insert/delete rows") {
    val src = Tables.df(spark, sf, "nation")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "chg", src)
    val v1 = t.meta.currentSnapshotId
    t.delete(col("n_nationkey") === 3)
    t.append(src.filter(col("n_nationkey") === 3)
      .withColumn("n_name", lit("REBORN")))
    val v2 = t.meta.currentSnapshotId

    val ch = t.changes(v1, v2)
    val inserts = ch.filter(col("_change_type") === "insert")
    val deletes = ch.filter(col("_change_type") === "delete")
    // copy-on-write granularity: the rewritten file's rows all cycle
    assert(inserts.filter(col("n_name") === "REBORN").count() == 1)
    assert(deletes.filter(col("n_nationkey") === 3).count() == 1)
    // net effect of the diff equals the actual table delta
    val net = inserts.count() - deletes.count()
    assert(net == t.read().count() - src.count())
  }

  test("manifest-split metadata: commits are O(changed files), refs reused") {
    val loc = freshLoc()
    LakeTable.create(spark, loc, "big",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    // fabricate a 10k-file snapshot straight at the metadata layer (the
    // data path is covered elsewhere; this tests commit scaling)
    val entries = (1 to 10000).map(i => FileEntry(
      s"$loc/data/f$i.parquet", 100L, 1000L, 1,
      Map("1" -> ColStats(Some(i.toString), Some(i.toString), 0)), Map.empty))
    TableMetadata.commit(loc) { curOpt =>
      val cur = curOpt.get
      cur.copy(snapshots = cur.snapshots :+
        Snapshot(1, System.currentTimeMillis(), "append", entries),
        currentSnapshotId = 1)
    }
    val metaDir = java.nio.file.Paths.get(TableMetadata.metaDir(loc))
    def vSize(v: Int) = java.nio.file.Files.size(metaDir.resolve(s"v$v.json"))
    def manifests() = java.nio.file.Files.list(metaDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("manifest-")).toSeq
    val after10k = manifests().toSet
    assert(after10k.size == 1, s"expected 1 manifest, got ${after10k.size}")
    // metadata.json holds refs, not file entries
    assert(vSize(2) < 4096, s"v2.json is ${vSize(2)}B — file list not split out")

    // append ONE more file: must reuse the 10k manifest, write 1 new one
    TableMetadata.commit(loc) { curOpt =>
      val cur = curOpt.get
      val one = FileEntry(s"$loc/data/extra.parquet", 1L, 10L, 1,
        Map.empty, Map.empty)
      cur.copy(snapshots = cur.snapshots :+
        Snapshot(2, System.currentTimeMillis(), "append",
          cur.currentSnapshot.get.files :+ one),
        currentSnapshotId = 2)
    }
    val after1 = manifests().toSet
    assert(after1.size == 2, s"expected 2 manifests, got ${after1.size}")
    assert(after10k.subsetOf(after1), "base manifest was rewritten")
    assert(vSize(3) < 4096, s"v3.json is ${vSize(3)}B")
    val newManifest = (after1 -- after10k).head
    assert(java.nio.file.Files.size(metaDir.resolve(newManifest)) < 1024,
      "new manifest should carry only the added file")
    // reload roundtrip: hydrated view sees all 10001 files
    val m = TableMetadata.load(loc)
    assert(m.currentSnapshot.get.files.size == 10001)
  }

  test("high-cardinality identity partition falls back to hash fanout") {
    val loc = freshLoc()
    import spark.implicits._
    val src = (1 to 2000).map(i => (i.toLong, s"u$i")).toDF("uid", "name")
    // cap far below the 2000 distinct identity values: the write must
    // take the distributed hash-bucket path, never collecting tuples
    val t = LakeTable.create(spark, loc, "hc", src.schema,
      partitionSpec = Seq("identity(uid)"),
      properties = Map("write.max-partition-fanout" -> "100"))
    t.append(src, targetFiles = Some(8))
    val files = t.meta.currentSnapshot.get.files
    assert(files.nonEmpty && files.size <= 8,
      s"expected <=8 hash buckets, got ${files.size} files")
    assert(t.read().count() == 2000)
    // range-based pruning still correct (if not exact) over hash files
    assert(t.scan(Some(col("uid") === 1234L)).count() == 1)
    // low-cardinality specs keep the exact per-partition fanout
    val t2 = LakeTable.createAsSelect(spark, freshLoc(), "lc",
      src.withColumn("b", (col("uid") % 3).cast("long")),
      partitionSpec = Seq("identity(b)"))
    assert(t2.meta.currentSnapshot.get.files.size == 3)
  }

  /** Runs `body` and returns how many of the queries it ran scanned at
    * least one of `t`'s current data files.
    */
  private def candidateScans(t: LakeTable)(body: => Unit): Int = {
    val candidatePaths =
      t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      // AQE hides the real plan outside the children traversal
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      // and keeps each materialized stage's plan outside it too
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        val hits = scansOf(qe.executedPlan).filter(
          _.relation.location.inputFiles.exists(p =>
            candidatePaths.contains(p.replaceFirst("^file:/+", "/"))))
        if (hits.nonEmpty) scans.incrementAndGet()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.TestListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    scans.get()
  }

  test("update scans candidate files once (observed metric, no count pass)") {
    val src = Tables.df(spark, sf, "nation")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "upd1", src)
    val scans = candidateScans(t) {
      assert(t.update(col("n_nationkey") === 3,
        Map("n_name" -> lit("PATCHED"))) == 1)
    }
    // merge-on-read update = exactly two candidate passes: one
    // writes the matched (file, pos) batch, one writes the assigned
    // new-row versions — never a count()+full-rewrite double pass,
    // and never a rewrite of unmatched survivor bytes
    assert(scans == 2,
      s"update ran $scans scans over candidate files, want 2 " +
        "(position batch + new row versions)")
    assert(t.read().filter(col("n_name") === "PATCHED").count() == 1)
  }

  test("partitioned update scans candidate files twice") {
    val src = Tables.df(spark, sf, "events")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "upd_part", src,
      partitionSpec = Seq("day(ts)"), targetFiles = Some(4))
    val id = src.agg(min("event_id")).head.getLong(0)
    val scans = candidateScans(t) {
      assert(t.update(col("event_id") === id,
        Map("value" -> lit(-1.0))) == 1)
    }
    // the write of the new row versions and the position batch: the
    // candidate files' rows bound the new rows within the fan-out cap,
    // so no count of their partition tuples comes first (that count
    // made it 3, an approx-distinct pre-pass before it 4)
    assert(scans == 2,
      s"partitioned update ran $scans scans over candidate files, want 2 " +
        "(new row versions + position batch)")
    assert(t.read().filter(col("value") === -1.0).count() == 1)
    assert(t.read().count() == src.count())
  }

  test("fan-out cap is exact: N tuples fan out, N + 1 hash-bucket") {
    import spark.implicits._
    val cap = 6
    def table(tuples: Int, targetFiles: Option[Int],
        capProp: Int = cap): LakeTable = {
      val src = (0 until 60).map(i => (i.toLong, (i % tuples).toLong))
        .toDF("id", "k")
      val t = LakeTable.create(spark, freshLoc(), "fan", src.schema,
        partitionSpec = Seq("identity(k)"),
        properties = Map("write.max-partition-fanout" -> capProp.toString))
      t.append(src, targetFiles)
      assert(t.read().count() == 60)
      assert(t.read().exceptAll(src).isEmpty)
      // pruning stays sound on either path
      assert(t.scan(Some(col("k") === 2L)).count() ==
        src.filter(col("k") === 2L).count())
      t
    }
    // exactly at the cap: the per-partition path, one file per tuple,
    // so equality on the partition column keeps exactly one file
    val atCap = table(cap, None)
    val files = atCap.meta.currentSnapshot.get.dataFiles
    assert(files.size == cap)
    assert(files.forall { f =>
      val st = f.partStats("k__identity"); st.min == st.max })
    assert(atCap.pruneStats(col("k") === 2L) == (1, cap))
    // one over the cap: the hash path, files grouped by the hash of
    // the tuple (the per-partition path would pack contiguous tuples)
    val targetFiles = 2
    def assertHashBucketed(t: LakeTable, tuples: Int): Unit = {
      assert(t.meta.currentSnapshot.get.dataFiles.size <= targetFiles)
      val byFile = t.read().select(input_file_name().as("f"), col("k"))
        .distinct().collect().groupBy(_.getString(0))
        .values.map(_.map(_.getLong(1)).toSet).toSet
      val byHash = (0L until tuples.toLong).toDF("k")
        .select(col("k"), pmod(xxhash64(col("k")), lit(targetFiles.toLong)))
        .collect().groupBy(_.getLong(1))
        .values.map(_.map(_.getLong(0)).toSet).toSet
      assert(byFile == byHash, s"files hold $byFile, hash buckets $byHash")
    }
    assertHashBucketed(table(cap + 1, Some(targetFiles)), cap + 1)
    // a cap <= 0 sends every non-empty write down the hash path and
    // loses no rows (table() checks every row reads back)
    for (capProp <- Seq(0, -1, -2))
      assertHashBucketed(table(3, Some(targetFiles), capProp), 3)
  }

  /** Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.TestListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("one-row update and delete on a partitioned table: job budget") {
    val src = Tables.df(spark, sf, "events")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "ev_jobs", src,
      partitionSpec = Seq("day(ts)"), targetFiles = Some(4))
    val ids = src.orderBy("event_id").select("event_id").limit(3)
      .collect().map(_.getLong(0))
    assert(t.delete(col("event_id") === ids(0)) == 1)
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    val updateJobs = jobsOf(assert(
      t.update(col("event_id") === ids(1), Map("value" -> lit(0.0))) == 1))
    val deleteJobs = jobsOf(assert(t.delete(col("event_id") === ids(2)) == 1))
    // 21 and 9 while partitioned writes ran an approx-distinct job
    // before their tuple count, delete files were counted by a Spark
    // job each and a row removal counted old and new positions apart;
    // 13 and 4 while written files were re-read for their stats and a
    // row removal counted its positions with a job; 9 and 2 while an
    // update counted the partition tuples of its new rows
    assert(updateJobs <= 5 && deleteJobs <= 2,
      s"update ran $updateJobs jobs, delete $deleteJobs")
    assert(t.read().count() == src.count() - 2)
  }

  test("concurrent appends both land (optimistic retry)") {
    val src = Tables.df(spark, sf, "region")
    val t = LakeTable.createAsSelect(spark, freshLoc(), "conc", src)
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    val fs = (1 to 4).map(_ => Future(t.append(src)))
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.read().count() == 5 * src.count())
    assert(t.meta.snapshots.count(_.operation == "append") == 5)
  }

  test("engine facade: foreign tables, COPY, listFiles") {
    val e = LakeEngine(spark)
    // foreign table over parquet with filename column
    val ft = e.createLakeTable("li_ft", s"$sf/lineitem.parquet",
      filenameColumn = true)
    // reference spelling `_filename` (test_filename.py), scheme-free
    // for local paths
    assert(ft.filter(col("_filename").contains("lineitem")).count() ==
      ft.count())
    assert(!ft.select("_filename").first().getString(0).startsWith("file:"))
    // COPY TO csv.gz, foreign table over it, counts match
    val out = LakeEngine.tempLocation("copy") + ".csv.gz"
    e.copyTo(Tables.df(spark, sf, "region"), out)
    val back = e.createLakeTable("region_csv", out, format = Some("csv"))
    assert(back.count() == 5)
    // listFiles glob
    assert(e.listFiles(s"$sf/*.parquet").count() == 10)
    // COPY FROM into managed table
    val loc = LakeEngine.tempLocation("copyfrom")
    e.createTableAsSelect("r2", loc, Tables.df(spark, sf, "region"))
    val n = e.copyFrom("r2", out, options = Map("header" -> "true"))
    assert(n == 5)
    assert(e.table("r2").read().count() == 10)
  }

  test("incremental file ingestion: exactly-once, CREATE TABLE LIKE") {
    import org.apache.spark.sql.functions.col
    val e = LakeEngine(spark)
    val src = Tables.df(spark, sf, "region")
    // a landing dir that grows over time, like a log bucket
    val landing = java.nio.file.Files.createTempDirectory("landing").toString
    src.filter(col("r_regionkey") < 2).coalesce(1)
      .write.parquet(s"$landing/batch1")
    src.filter(col("r_regionkey") >= 2 && col("r_regionkey") < 4).coalesce(1)
      .write.parquet(s"$landing/batch2")

    // the reference's log-pipeline DDL: schema from an existing table
    e.createTableAsSelect("r_like_src", LakeEngine.tempLocation("lsrc"),
      src.limit(0))
    assert(e.sql("CREATE TABLE logs_ice (LIKE r_like_src) USING iceberg")
      .head.getString(0) == "logs_ice")
    val t = e.table("logs_ice")

    def ingest(): Seq[String] =
      t.ingestFiles(s"$landing/*/*.parquet", "logs") { files =>
        spark.read.schema(src.schema).parquet(files: _*)
      }
    // first run picks up both batches
    assert(ingest().length == 2)
    assert(t.read().count() == 4)
    // re-run: nothing new, no extra snapshot rows
    assert(ingest().isEmpty)
    assert(t.read().count() == 4)
    // a third file lands: only it is processed
    src.filter(col("r_regionkey") === 4).coalesce(1)
      .write.parquet(s"$landing/batch3")
    assert(ingest().length == 1)
    assert(t.read().count() == 5)
    assert(t.read().exceptAll(src).isEmpty)

    // two pipelines over the same files are independent bookkeeping
    val n2 = t.ingestFiles(s"$landing/*/*.parquet", "second") { files =>
      spark.read.schema(src.schema).parquet(files: _*)
    }
    assert(n2.length == 3)
    assert(t.read().count() == 10)

    // racing runners of ONE pipeline: every file lands exactly once
    val e2 = LakeEngine(spark)
    e2.sql("CREATE TABLE race_ice (LIKE r_like_src) USING iceberg")
    val rt = e2.table("race_ice")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] =
            rt.ingestFiles(s"$landing/*/*.parquet", "p") { files =>
              spark.read.schema(src.schema).parquet(files: _*)
            }
        })
      }
      val got = futs.map(_.get())
      assert(got.map(_.length).sum == 3,
        s"racing ingests must split the 3 files exactly once: $got")
    } finally pool.shutdown()
    assert(rt.read().count() == 5)

    // orphaned chunk (aborted batch) is swept; live chunks survive and
    // bookkeeping still dedups after the sweep
    val metaDir = java.nio.file.Paths.get(
      graft.lake.TableMetadata.metaDir(t.location))
    val orphan = metaDir.resolve("ingest-logs-orphan.json")
    java.nio.file.Files.write(orphan, "bogus".getBytes)
    t.expireSnapshots(keepLast = 50, graceMs = 0)
    assert(!java.nio.file.Files.exists(orphan), "orphan chunk swept")
    assert(ingest().isEmpty, "live bookkeeping intact after sweep")
  }
}

package graft

import graft.lake._
import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Lake writes set permissions through `java.nio` (no `chmod` process)
  * and leave the same bits a stock Hadoop write leaves, without
  * changing the session's filesystem settings.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Permission strings of everything under `root` (itself included),
    * by kind: directory, checksum, marker, data file.
    */
  private def modes(root: Path): Map[String, Set[String]] = {
    val w = Files.walk(root)
    try w.iterator().asScala.toSeq.groupMap { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p)) "dir"
      else if (n.endsWith(".crc")) "crc"
      else if (n == "_SUCCESS") "marker"
      else "data"
    }(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      .map { case (k, v) => k -> v.toSet }
    finally w.close()
  }

  /** Bytes the `java.nio` filesystem wrote while `body` ran. */
  @annotation.nowarn("cat=deprecation")
  private def nioBytes(body: => Unit): Long = {
    val st = FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem])
    val before = st.getBytesWritten
    body
    st.getBytesWritten - before
  }

  private def hadoopImpl = spark.sparkContext.hadoopConfiguration.get("fs.file.impl")

  test("posix bits follow the chmod mode") {
    def oct(s: String) = Integer.parseInt(s, 8)
    Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "604" -> "rw----r--",
      "0" -> "---------", "777" -> "rwxrwxrwx").foreach { case (m, want) =>
      assert(NioLocalFileSystem.posix(oct(m)) ==
        PosixFilePermissions.fromString(want), m)
    }
    val fs = new NioLocalFileSystem
    fs.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("niofs")
    val f = new HPath(dir.resolve("x").toUri)
    fs.create(f).close()
    fs.setPermission(f, new FsPermission(oct("604").toShort))
    assert(PosixFilePermissions.toString(
      Files.getPosixFilePermissions(dir.resolve("x"))) == "rw----r--")
    assert(fs.mkdirs(new HPath(dir.resolve("d").toUri),
      new FsPermission(oct("750").toShort)))
    assert(PosixFilePermissions.toString(
      Files.getPosixFilePermissions(dir.resolve("d"))) == "rwxr-x---")
  }

  test("lake writes and COPY TO leave the stock bits, session untouched") {
    val implBefore = hadoopImpl
    val confBefore = spark.conf.getOption("fs.file.impl")
    def cached = FileSystem.get(new URI("file:///"),
      spark.sparkContext.hadoopConfiguration).getClass
    val cachedBefore = cached
    val df = (0 until 40).map(i => (i.toLong, (i % 4).toLong)).toDF("id", "k")

    val stock = Paths.get(LakeEngine.tempLocation("perm_stock"))
    df.write.partitionBy("k").parquet(stock.toString)
    val want = modes(stock)
    assert(want.keySet == Set("dir", "crc", "marker", "data"))

    val loc = LakeEngine.tempLocation("perm_lake")
    val written = nioBytes {
      LakeTable.createAsSelect(spark, loc, "perm", df,
        partitionSpec = Seq("identity(k)"))
    }
    assert(written > 0, "the lake write did not go through java.nio")
    val data = Paths.get(loc, "data")
    val commits = Files.list(data).iterator().asScala.toSeq
    assert(commits.size == 1)
    assert(modes(commits.head) == want)

    val out = Paths.get(LakeEngine.tempLocation("perm_copy"))
    val copied = nioBytes {
      LakeEngine(spark).copyTo(df, out.toString,
        Map("format" -> "parquet", "directory" -> "true"))
    }
    assert(copied > 0, "COPY TO did not go through java.nio")
    assert(modes(out) == modes(Paths.get({
      val s = LakeEngine.tempLocation("perm_copy_stock")
      df.write.parquet(s); s
    })))

    assert(hadoopImpl == implBefore)
    assert(spark.conf.getOption("fs.file.impl") == confBefore)
    assert(cached == cachedBefore && cached != classOf[NioLocalFileSystem])
  }
}

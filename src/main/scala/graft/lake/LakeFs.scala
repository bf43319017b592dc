package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Filesystem primitives for the lake layer, keyed by the table
  * location's URL scheme — the piece that makes table locations and
  * staging directories CLUSTER-REAL instead of driver-local.
  *
  * Local locations (no scheme, or `file:`) use `java.nio` directly:
  * byte-identical behavior to the original implementation, including
  * the hard-link put-if-absent commit (atomic on POSIX) and no
  * Hadoop-LocalFileSystem `.crc` sidecar files. Any other scheme —
  * `hdfs://`, a mounted cluster filesystem, or the wrapper scheme the
  * specs use to prove no `java.nio` escape — routes through the Hadoop
  * [[FileSystem]] API resolved from the active Spark session's
  * configuration, which is exactly what `df.read`/`df.write` use, so
  * data files and metadata live on the same filesystem the executors
  * see.
  *
  * Commit CAS on a remote filesystem is `create(path,
  * overwrite=false)` — atomic on HDFS (the namenode arbitrates), the
  * standard Hadoop put-if-absent. On eventual-consistency object
  * stores a catalog CAS should arbitrate instead (that path exists:
  * [[RestCatalog]] commits via the Iceberg REST `CommitTable`
  * requirement check), matching the reference, which likewise CASes
  * through its catalog row rather than S3 itself.
  */
object LakeFs {

  def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** True when `p` lives behind a non-local Hadoop scheme. */
  def isRemote(p: String): Boolean = remote(p)

  /** True when `p` must go through the Hadoop FileSystem API. */
  private def remote(p: String): Boolean = {
    val s = new HPath(p).toUri.getScheme
    s != null && s != "file"
  }

  /** Local view of a schemeless or `file:` path. */
  private def local(p: String): Path = {
    val u = new HPath(p).toUri
    if (u.getScheme == "file") Paths.get(u.getPath) else Paths.get(p)
  }

  private def fsOf(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(hadoopConf), hp)
  }

  /** `dir/name` in the dir's own scheme. */
  def child(dir: String, name: String): String =
    dir.stripSuffix("/") + "/" + name

  def exists(p: String): Boolean =
    if (remote(p)) { val (fs, hp) = fsOf(p); fs.exists(hp) }
    else Files.exists(local(p))

  def size(p: String): Long =
    if (remote(p)) { val (fs, hp) = fsOf(p); fs.getFileStatus(hp).getLen }
    else Files.size(local(p))

  def mtime(p: String): Long =
    if (remote(p)) {
      val (fs, hp) = fsOf(p)
      fs.getFileStatus(hp).getModificationTime
    } else Files.getLastModifiedTime(local(p)).toMillis

  def mkdirs(p: String): Unit =
    if (remote(p)) { val (fs, hp) = fsOf(p); fs.mkdirs(hp); () }
    else { Files.createDirectories(local(p)); () }

  /** Deletes `p` and, on a local path, the `.<name>.crc` checksum a
    * Hadoop write leaves beside it, as Hadoop's own delete does. */
  def deleteIfExists(p: String): Unit =
    if (remote(p)) { val (fs, hp) = fsOf(p); fs.delete(hp, false); () }
    else {
      val lp = local(p)
      Files.deleteIfExists(lp)
      Option(lp.getFileName).foreach(n =>
        Files.deleteIfExists(lp.resolveSibling(s".$n.crc")))
    }

  def deleteRecursive(p: String): Unit =
    if (remote(p)) { val (fs, hp) = fsOf(p); fs.delete(hp, true); () }
    else {
      val root = local(p)
      if (Files.exists(root)) {
        val w = Files.walk(root)
        try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        finally w.close()
      }
    }

  def readAllBytes(p: String): Array[Byte] =
    if (remote(p)) {
      val (fs, hp) = fsOf(p)
      val in = fs.open(hp)
      try {
        val out = new java.io.ByteArrayOutputStream()
        in.transferTo(out); out.toByteArray
      } finally in.close()
    } else Files.readAllBytes(local(p))

  def open(p: String): java.io.InputStream =
    if (remote(p)) { val (fs, hp) = fsOf(p); fs.open(hp) }
    else Files.newInputStream(local(p))

  /** Write via a same-directory temp file + rename, so a reader never
    * observes a partial file under the final name.
    */
  def writeAtomic(p: String, bytes: Array[Byte]): Unit =
    if (remote(p)) {
      val (fs, hp) = fsOf(p)
      val tmp = new HPath(hp.getParent,
        s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, hp)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"rename to $p failed")
      }
    } else {
      val lp = local(p)
      val tmp = Files.createTempFile(lp.getParent, ".tmp", "")
      Files.write(tmp, bytes)
      Files.move(tmp, lp, StandardCopyOption.ATOMIC_MOVE)
    }

  /** Object-store schemes whose commit CAS goes through the store's
    * own conditional write ([[graft.sources.HttpSource.putIfAbsent]])
    * instead of a Hadoop connector: on these stores exists→rename has
    * a race window (rename is copy+delete and OVERWRITES), so the
    * SERVER must arbitrate — `If-None-Match: *` on S3/R2/Azure,
    * `x-goog-if-generation-match: 0` on GCS. `s3a://` (the Hadoop
    * connector spelling) maps onto the same `s3://` request path.
    */
  private val conditionalPutSchemes =
    Set("s3", "s3a", "gs", "r2", "az", "azure", "abfs", "abfss")

  /** Put-if-absent of a fully-written file — the commit point of the
    * metadata CAS. Local: hard link from a temp file (POSIX link(2)
    * is atomic and fails on an existing target). Object stores: the
    * store's conditional PUT — the server rejects the loser with 412,
    * no exists→rename window. Other remote schemes:
    * `create(overwrite=false)` + rename, atomic on HDFS.
    */
  def createExclusive(p: String, bytes: Array[Byte]): Boolean = {
    val scheme = Option(new HPath(p).toUri.getScheme)
      .map(_.toLowerCase).getOrElse("")
    if (conditionalPutSchemes.contains(scheme)) {
      val url = if (scheme == "s3a") "s3" + p.stripPrefix("s3a") else p
      return graft.sources.HttpSource.putIfAbsent(url, bytes)
    }
    if (remote(p)) {
      val (fs, hp) = fsOf(p)
      fs match {
        case _: org.apache.hadoop.fs.RawLocalFileSystem =>
          // wrapper scheme over local disk (tests, mounted cluster
          // FS): POSIX link(2) gives the genuinely atomic
          // put-if-absent — RawLocal's rename would silently
          // OVERWRITE an existing destination
          localExclusive(Paths.get(hp.toUri.getPath), bytes)
        case _ =>
          // fully write a same-directory temp, then RENAME it in:
          // rename is content-atomic (a reader never sees
          // half-written commit bytes), and on HDFS rename onto an
          // existing destination FAILS — exactly the put-if-absent
          // CAS. Object-store schemes never reach here (conditional
          // PUT above); an exotic connector without atomic rename
          // should front a catalog CAS ([[RestCatalog]] CommitTable).
          if (fs.exists(hp)) return false
          val tmp = new HPath(hp.getParent,
            s".tmp-${java.util.UUID.randomUUID()}")
          val out = fs.create(tmp, false)
          try out.write(bytes) finally out.close()
          if (fs.exists(hp) || !fs.rename(tmp, hp)) {
            fs.delete(tmp, false)
            return false
          }
          true
      }
    } else localExclusive(local(p), bytes)
  }

  /** POSIX hard-link put-if-absent (link(2) is atomic and fails on an
    * existing target — rename would silently replace).
    */
  private def localExclusive(lp: Path, bytes: Array[Byte]): Boolean = {
    if (Files.exists(lp)) return false
    val tmp = Files.createTempFile(lp.getParent,
      "." + lp.getFileName.toString, ".tmp")
    try {
      Files.write(tmp, bytes)
      try { Files.createLink(lp, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Immediate child names of `dir` (files and directories). */
  def listNames(dir: String): Seq[String] =
    if (remote(dir)) {
      val (fs, hp) = fsOf(dir)
      if (!fs.exists(hp)) Nil
      else fs.listStatus(hp).map(_.getPath.getName).toSeq
    } else {
      val d = local(dir)
      if (!Files.exists(d)) Nil
      else {
        val s = Files.list(d)
        try s.iterator().asScala.map(_.getFileName.toString).toSeq
        finally s.close()
      }
    }

  /** Every regular file under `dir` whose name ends with `suffix`,
    * with its size, sorted by path — one recursive listing round trip
    * on remote filesystems (not a stat per file).
    */
  def listFilesRecursive(dir: String, suffix: String = "")
      : Seq[(String, Long)] =
    if (remote(dir)) {
      val (fs, hp) = fsOf(dir)
      if (!fs.exists(hp)) Nil
      else {
        // manual recursion over listStatus rather than fs.listFiles:
        // the LocatedFileStatus wrapper eagerly loads POSIX permission
        // info, which wrapper schemes over the local FS cannot serve
        val out = Seq.newBuilder[(String, Long)]
        def walk(p: HPath): Unit = fs.listStatus(p).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (st.getPath.getName.endsWith(suffix))
            out += ((st.getPath.toString, st.getLen))
        }
        walk(hp)
        out.result().sortBy(_._1)
      }
    } else {
      val d = local(dir)
      if (!Files.exists(d)) Nil
      else {
        val s = Files.walk(d)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(suffix))
          .map(p => (p.toString, Files.size(p))).toSeq.sortBy(_._1)
        finally s.close()
      }
    }

  /** Scheme-independent identity of a path — what joins a stored
    * [[FileEntry.path]] against `input_file_name()` URIs (`file:/x`,
    * `mockfs:/x` and `/x` all key to `/x`).
    */
  def pathKey(p: String): String = {
    val u = new HPath(p).toUri
    if (u.getScheme != null) u.getPath else Paths.get(p).toString
  }
}

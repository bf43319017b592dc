package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import scala.reflect.ClassTag

/** Java-serializable carrier for a Hadoop Configuration, so executor
  * tasks of the byte-level file readers ([[SerializableHadoopConf.perFile]])
  * see the session's configured filesystems/credentials instead of a blank
  * `new Configuration()`. Same idea as Spark's own (spark-private)
  * SerializableConfiguration.
  */
private[graft] class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[graft] object SerializableHadoopConf {

  /** The byte-level readers' scan shape: every file under `path` (a
    * directory, a file or a glob) whose name ends in one of `exts` is
    * one task (a whole-file format has no intra-file split point).
    * `rows` runs in the executor with the file's filesystem, opened
    * through the session's Hadoop conf: a fresh Configuration() would
    * drop credentials and scheme settings, e.g. for s3a paths.
    */
  def perFile[T: ClassTag](spark: SparkSession, path: String,
      exts: Seq[String])(rows: (FileSystem, Path) => Seq[T]): RDD[T] = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status =
      if (fs.isDirectory(hPath)) fs.listStatus(hPath).toSeq
      else Option(fs.globStatus(hPath)).map(_.toSeq).getOrElse(Seq.empty)
    val files = status.map(_.getPath.toString)
      .filter(p => exts.exists(p.toLowerCase.endsWith)).sorted
    require(files.nonEmpty, s"no ${exts.mkString("/")} files under $path")
    val confB = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    spark.sparkContext.parallelize(files, files.length).flatMap { file =>
      val p = new Path(file)
      rows(p.getFileSystem(confB.value.value), p)
    }
  }

  def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }
}

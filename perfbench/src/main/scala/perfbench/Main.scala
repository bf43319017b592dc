package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operation counts, end-to-end and
  * per-layer metrics (name -> (value, unit)), and the query outputs the
  * caller checks against their DuckDB oracle SQL.
  */
final class Result {
  var attempted = 0
  var failed = 0
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val outputs = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.ArrayBuffer.empty[String]
}

/** Everything a workload needs from the run: its config node, the
  * command-line knobs, and where to read fixtures and write scratch.
  */
final case class Ctx(cfg: JsonNode, seed: Long, seconds: Double,
    trace: Boolean, dataDir: String, workDir: String, cores: Int) {
  def int(k: String): Int = cfg.get(k).asInt()
  def strs(k: String): Seq[String] =
    cfg.get(k).elements().asScala.map(_.asText()).toSeq

  /** Sleeps `untraced_gap_ms` of the config (default 0) inside an
    * operation's wall time but outside its spans: the self-test plants
    * this gap to show that the span check catches untraced time.
    */
  def untracedGap(): Unit =
    if (cfg.has("untraced_gap_ms")) Thread.sleep(cfg.get("untraced_gap_ms").asLong())
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Main {
  /** The running session's sibling (own SQL state, shared context), or
    * the first session of this JVM.
    */
  def session(cores: Int, workDir: String): SparkSession =
    SparkSession.getActiveSession.map(_.newSession()).getOrElse {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // the status store keeps finished jobs for a UI that is off;
        // keeping only the last one makes the live heap a measure of the
        // library rather than of which plans happened to run last
        .config("spark.ui.retainedJobs", "1")
        .config("spark.ui.retainedStages", "1")
        .config("spark.ui.retainedTasks", "100")
        .config("spark.sql.ui.retainedExecutions", "1")
        .config("spark.local.dir", s"$workDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

  /** Seconds each of `n` runs of `f` took. */
  def repeat(n: Int)(f: => Unit): Seq[Double] = (1 to n).map { _ =>
    val t0 = nowS()
    f
    nowS() - t0
  }

  /** Full collections until the live heap has not shrunk twice in a row
    * (at most ten); returns the heap still in use, MiB: what the library
    * keeps alive (caches, metadata). Called before a timed phase, so it
    * starts on an empty young generation, and after it, so memory that
    * grew while it ran shows. One collection is not enough: it lets
    * Spark's context cleaner release the broadcast and shuffle blocks of
    * dead plans, which a later collection frees.
    */
  def settle(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(300); m.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (cur, steady, n) = (used(), 0, 1)
    while (steady < 2 && n < 10) {
      val next = used()
      steady = if (cur - next < 0.5) steady + 1 else 0
      cur = next
      n += 1
    }
    cur
  }

  /** Peak resident set of this JVM so far, MiB (VmHWM). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def nowS(): Double = System.nanoTime() / 1e9

  private val mapper = new ObjectMapper()

  def json(kv: Seq[(String, String)]): String = {
    val o = mapper.createObjectNode()
    kv.foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }

  /** Writes `text` so a reader polling for `path` never sees it partial. */
  def writeAtomic(path: String, text: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, Paths.get(path), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Blocks until the caller creates `path` (at most three minutes). */
  def awaitFile(path: String): Unit = {
    val until = nowS() + 180
    while (!Files.exists(Paths.get(path))) {
      require(nowS() < until, s"gave up waiting for $path")
      Thread.sleep(20)
    }
  }

  /** Usage: Main <config.json> <result.json>. The config names the
    * workload node, seed, seconds, trace flag, fixture and work dirs.
    */
  def main(args: Array[String]): Unit = {
    val conf = mapper.readTree(Files.readString(Paths.get(args(0))))
    val wl = conf.get("workload")
    val ctx = Ctx(wl, conf.get("seed").asLong(), conf.get("seconds").asDouble(),
      conf.get("trace").asBoolean(), conf.get("data_dir").asText(),
      conf.get("work_dir").asText(), conf.get("cores").asInt())
    val res = wl.get("kind").asText() match {
      case "analytics" => Analytics.run(ctx)
      case "lake" => LakeMixed.run(ctx)
      case k => sys.error(s"unknown workload kind $k")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    val out = mapper.createObjectNode()
    out.put("attempted", res.attempted)
    out.put("failed", res.failed)
    for ((key, m) <- Seq("e2e" -> res.e2e, "layer" -> res.layer)) {
      val node = out.putObject(key)
      m.foreach { case (k, (v, u)) =>
        node.putObject(k).put("value", v).put("unit", u)
      }
    }
    val outs = out.putObject("outputs")
    res.outputs.foreach { case (k, v) => outs.put(k, v) }
    val notes = out.putArray("notes")
    res.notes.foreach(notes.add)
    writeAtomic(args(1), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
  }
}

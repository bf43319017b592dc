package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so spans recorded by
  * the benchmark (nanoTime-based) and by the Spark listener (event
  * millis) share one clock. `op` groups all spans of one operation.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Per-stage task totals, summed from the stage's completed tasks. */
final case class StageStats(tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    fetchWaitMs: Long)

/** In-memory span recorder. Spans are recorded only by benchmark code
  * around calls into the library, plus one span per Spark job seen by
  * the listener; nothing is written until the run ends. Disabled, it
  * records nothing and `span` is a plain call.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val walls = ArrayBuffer.empty[(Int, Long)] // (op, ns)
  private var lastOp = 0
  private var nextId = 1
  private var stack = List.empty[(Int, Int)] // (span id, op id)
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  private def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  /** Runs `f` as a span under the innermost open span; a span opened
    * with no parent starts a new operation.
    */
  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val id = synchronized { nextId += 1; nextId }
    val (parent, op) = stack.headOption.getOrElse((0, id))
    stack = (id, op) :: stack
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, s"$id:$op")
    val t0 = now()
    try f
    finally {
      val t1 = now()
      sc.setLocalProperty(Tracer.SpanKey, prev)
      stack = stack.tail
      if (parent == 0) lastOp = op
      synchronized { spans += Span(id, name, parent, op, t0, t1) }
    }
  }

  /** The wall time of the operation just finished, as its caller
    * measured it around the whole call, outside the spans.
    */
  def wall(seconds: Double): Unit =
    if (enabled) synchronized { walls += ((lastOp, (seconds * 1e9).toLong)) }

  /** Spans of Spark jobs, attached to the benchmark span that ran them. */
  def addJob(jobId: Int, key: String, startMs: Long, endMs: Long): Unit =
    if (key != null) {
      val Array(parent, op) = key.split(':').map(_.toInt)
      synchronized {
        nextId += 1
        spans += Span(nextId, s"spark.job.$jobId", parent, op,
          startMs * 1000000L, endMs * 1000000L)
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def opWalls: Map[Int, Long] = synchronized(walls.toMap)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of `[start, end)` covered by the union of `ivs`. */
  def covered(start: Long, end: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = start
    clip(start, end, ivs).sortBy(_._1).foreach { case (a, b) =>
      if (b > cur) { total += b - (a max cur); cur = b }
    }
    total
  }

  private def clip(start: Long, end: Long, ivs: Seq[(Long, Long)]) =
    ivs.map { case (a, b) => (a max start, b min end) }.filter { case (a, b) => b > a }

  /** Each sibling's share of its parent's interval: where k siblings run
    * at once (concurrent Spark jobs), each is charged 1/k of that time,
    * so the shares of all siblings add up to the time they cover.
    */
  private def shares(start: Long, end: Long, sibs: Seq[Span]): Map[Int, Double] = {
    val ivs = sibs.map(s => s.id -> clip(start, end, Seq((s.start, s.end))))
      .collect { case (id, Seq(iv)) => id -> iv }
    val cuts = ivs.flatMap { case (_, (a, b)) => Seq(a, b) }.distinct.sorted
    val share = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val live = ivs.filter { case (_, (x, y)) => x <= a && y >= b }
      live.foreach { case (id, _) => share(id) += (b - a).toDouble / live.size }
    }
    share.toMap.withDefaultValue(0.0)
  }

  /** Self time of each span: its share of its parent's interval (its
    * clipped length, unless siblings overlap it) minus the part its own
    * children cover. Over one operation the self times add up to the
    * root span's length.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    val share = kids.toSeq.flatMap { case (p, sibs) =>
      byId.get(p) match {
        case Some(ps) => shares(ps.start, ps.end, sibs).toSeq
        case None => sibs.map(s => s.id -> s.dur.toDouble)
      }
    }.toMap
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (share.getOrElse(s.id, 0.0) - covered(s.start, s.end, c))
    }.toMap
  }

  /** Share of the callers' wall time, summed over the operations they
    * timed, that the self times of those operations' spans do not
    * account for: time spent outside every span (positive), or spans
    * longer than the call (negative).
    */
  def selfGap(spans: Seq[Span], walls: Map[Int, Long]): Double = {
    val self = selfTimes(spans)
    val timed = spans.filter(s => walls.contains(s.op))
    val wall = walls.values.sum.toDouble
    if (wall == 0) 0.0 else (wall - timed.map(s => self(s.id)).sum) / wall
  }
}

/** Public-API listener: job spans for the tracer, per-stage task totals,
  * and the Exchange count of each executed plan (final AQE plan).
  */
final class SparkStats(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {
  private val jobKeys = new ConcurrentHashMap[Int, (String, Long)]
  private val stages = new ConcurrentHashMap[Int, StageStats]
  @volatile var jobs = 0
  @volatile var exchanges = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs += 1
    val key = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
    jobKeys.put(e.jobId, (key, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKeys.remove(e.jobId)).foreach { case (key, t0) =>
      tracer.addJob(e.jobId, key, t0, e.time)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = StageStats(1, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleReadMetrics.fetchWaitTime)
      stages.merge(e.stageId, s, (a, b) => StageStats(a.tasks + b.tasks,
        a.runMs + b.runMs, a.cpuNs + b.cpuNs, a.gcMs + b.gcMs,
        a.shuffleRead + b.shuffleRead, a.shuffleWrite + b.shuffleWrite,
        a.spill + b.spill, a.fetchWaitMs + b.fetchWaitMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = exchanges += SparkStats.exchanges(qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def reset(): Unit = { stages.clear(); jobs = 0; exchanges = 0 }

  def stageList: Seq[StageStats] = stages.values.asScala.toSeq

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object SparkStats {
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}

/** Spark work summed over the traced operations of a run, reported per
  * pass (analytics) or per round (lake loop).
  */
final class SparkTotals {
  private var jobs, stages, tasks, exchanges = 0L
  private var taskS, cpuS, gcS, overheadS, fetchWaitS = 0.0
  private var shuffleRead, shuffleWrite, spill = 0L
  private var top = StageStats(0, 0, 0, 0, 0, 0, 0, 0)

  /** Adds what `stats` saw while operations taking `wallS` ran. */
  def add(stats: SparkStats, wallS: Double, cores: Int): Unit = {
    val st = stats.stageList
    val t = st.map(_.runMs).sum / 1e3
    jobs += stats.jobs
    stages += st.size
    tasks += st.map(_.tasks).sum
    exchanges += stats.exchanges
    taskS += t
    cpuS += st.map(_.cpuNs).sum / 1e9
    gcS += st.map(_.gcMs).sum / 1e3
    fetchWaitS += st.map(_.fetchWaitMs).sum / 1e3
    shuffleRead += st.map(_.shuffleRead).sum
    shuffleWrite += st.map(_.shuffleWrite).sum
    spill += st.map(_.spill).sum
    overheadS += wallS - t / cores
    st.foreach(s => if (s.runMs > top.runMs) top = s)
  }

  def emit(res: Result, per: Double): Unit = {
    val mb = 1048576.0 * per
    res.layer("spark.jobs") = (jobs / per, "count")
    res.layer("spark.stages") = (stages / per, "count")
    res.layer("spark.tasks") = (tasks / per, "count")
    res.layer("spark.exchanges") = (exchanges / per, "count")
    res.layer("spark.overhead_s") = (overheadS / per, "s")
    res.layer("spark.task_s") = (taskS / per, "s")
    res.layer("spark.cpu_s") = (cpuS / per, "s")
    res.layer("spark.gc_s") = (gcS / per, "s")
    res.layer("spark.shuffle_read_mb") = (shuffleRead / mb, "MB")
    res.layer("spark.shuffle_write_mb") = (shuffleWrite / mb, "MB")
    res.layer("spark.spill_mb") = (spill / mb, "MB")
    res.layer("spark.fetch_wait_s") = (fetchWaitS / per, "s")
    res.layer("spark.top_stage_task_s") = (top.runMs / 1e3, "s")
    res.layer("spark.top_stage_tasks") = (top.tasks.toDouble, "count")
  }
}

object Spans {
  /** One JSON object per line: id, name, parent, op, start, end (ns). */
  def write(path: String, spans: Seq[Span]): Unit = {
    val esc = (s: String) => s.replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), spans.sortBy(_.start)
      .map(s => s"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},""" +
        s""""op":${s.op},"start":${s.start},"end":${s.end}}""").asJava)
  }
}

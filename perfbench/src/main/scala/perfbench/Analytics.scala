package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import perfbench.Main.nowS
import perfbench.Stats._

/** Analytic queries over a fixture: each query is built with
  * `SparkEntry.queries(name)(spark, dir)` and executed into the `noop`
  * sink, in passes over all queries until the run's seconds are spent
  * (at least one full pass); the seed shuffles the order of each pass.
  * An untimed pass first writes every result for the oracle check and
  * warms the JVM.
  */
object Analytics {
  def run(c: Ctx): Result = {
    val res = new Result
    val fns = c.strs("queries").map(n => n -> graft.SparkEntry.queries(n))
    // set-up: a session with every query built (dialect rewrite, parse,
    // analyze, and the per-session registration the library does
    // lazily), repeated on new sessions
    var spark: SparkSession = null
    val setups = Main.repeat(c.int("setup_reps")) {
      spark = Main.session(c.cores, c.workDir)
      fns.foreach(_._2(spark, c.dataDir))
    }
    res.e2e("setup_s") = (median(setups), "s")
    // the caller computes the oracle answers while the untimed output
    // pass runs, and signals when done, so the timed phase runs alone
    Main.writeAtomic(s"${c.workDir}/oracle.json", Main.json(fns.map { case (n, _) =>
      n -> graft.SparkEntry.oracleSql(n) }))

    val c0 = nowS()
    fns.foreach { case (n, fn) =>
      res.attempted += 1
      val dir = s"${c.workDir}/out/$n"
      try {
        fn(spark, c.dataDir).coalesce(1).write.mode("overwrite").parquet(dir)
        res.outputs(n) = dir
      } catch { case e: Throwable =>
        res.failed += 1
        res.notes += s"$n failed: ${e.getMessage}"
      }
    }
    val ok = fns.filter(f => res.outputs.contains(f._1))
    res.notes += f"output pass ${nowS() - c0}%.1f s"
    Main.awaitFile(s"${c.workDir}/oracle.done")
    Main.settle()

    val tracer = new Tracer(spark)
    val stats = new SparkStats(tracer)
    val plain = mutable.Map.empty[String, ArrayBuffer[(Double, Double)]]
    val traced = mutable.Map.empty[String, ArrayBuffer[(Double, Double)]]
    val totals = new SparkTotals

    def once(fn: (SparkSession, String) => DataFrame, on: Boolean)
        : (Double, Double) = {
      if (on) { stats.register(spark); tracer.enabled = true }
      val w0 = nowS()
      c.untracedGap()
      val sample = tracer.span("query") {
        val t0 = nowS()
        val df = tracer.span("build")(fn(spark, c.dataDir))
        val t1 = nowS()
        tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
        (t1 - t0, nowS() - t1)
      }
      tracer.wall(nowS() - w0)
      if (on) {
        tracer.enabled = false
        PerfbenchBridge.drainListeners(spark.sparkContext)
        stats.unregister(spark)
        totals.add(stats, sample._2, c.cores)
        stats.reset()
      }
      sample
    }

    val rnd = new scala.util.Random(c.seed)
    val deadline = nowS() + c.seconds
    var pass = 0
    while (pass == 0 || nowS() < deadline) {
      // stop at the deadline once every query has a sample
      val due = rnd.shuffle(ok).zipWithIndex.iterator
        .takeWhile(_ => pass == 0 || nowS() < deadline)
      due.foreach { case ((n, fn), i) =>
        // traced runs execute each query twice; the second execution of
        // a query runs warmer, so which variant goes first alternates
        // across queries and passes
        val tracedFirst = (pass + i) % 2 == 1
        val order = if (!c.trace) Seq(false) else Seq(tracedFirst, !tracedFirst)
        order.foreach { on =>
          res.attempted += 1
          try (if (on) traced else plain).getOrElseUpdate(n, ArrayBuffer()) +=
            once(fn, on)
          catch { case e: Throwable =>
            tracer.enabled = false
            stats.unregister(spark)
            stats.reset()
            res.failed += 1
            res.notes += s"$n failed: ${e.getMessage}"
          }
        }
      }
      pass += 1
    }
    res.e2e("live_heap_mb") = (Main.settle(), "MB")
    res.e2e("peak_rss_mb") = (Main.peakRssMb(), "MB")

    def medTotal(m: mutable.Map[String, ArrayBuffer[(Double, Double)]]) =
      m.map { case (n, xs) => n -> median(xs.map(s => s._1 + s._2).toSeq) }.toMap
    val perQuery = medTotal(plain)
    val ms = perQuery.values.map(_ * 1e3).toSeq
    res.e2e("total_s") = (perQuery.values.sum, "s")
    res.e2e("p50_ms") = (median(ms), "ms")
    res.e2e("geomean_ms") = (geomean(ms), "ms")
    res.notes += s"${ok.size} queries, $pass passes, " +
      s"${plain.values.map(_.size).sum} untraced samples; median ms: " +
      ok.map { case (n, _) => f"$n=${perQuery.getOrElse(n, 0.0) * 1e3}%.0f" }.mkString(" ")

    if (c.trace) {
      val perTraced = medTotal(traced)
      val spans = tracer.all
      val self = Tracer.selfTimes(spans)
      val p = traced.values.map(_.size).sum.toDouble / ok.size // passes
      res.layer("queries.build_s") =
        (traced.values.map(xs => median(xs.map(_._1).toSeq)).sum, "s")
      res.layer("queries.exec_self_s") =
        (spans.filter(_.name == "exec").map(s => self(s.id)).sum / 1e9 / p, "s")
      ok.foreach { case (n, _) => res.layer(s"q.${n}_s") = (perTraced.getOrElse(n, 0.0), "s") }
      totals.emit(res, p)
      res.layer("trace.overhead_frac") =
        (perTraced.values.sum / perQuery.values.sum - 1.0, "ratio")
      res.layer("trace.self_gap_frac") = (Tracer.selfGap(spans, tracer.opWalls), "ratio")
      Spans.write(s"${c.workDir}/spans.jsonl", spans)
    }
    res
  }
}

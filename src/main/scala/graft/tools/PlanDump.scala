package graft.tools

/** Optimization-round instrumentation (guide §1): for each named query,
  * measure separately
  *   - build seconds: dialect rewrites + parse + analysis (driver-side,
  *     `fn(spark, sfDir)` until the DataFrame exists),
  *   - exec seconds: noop-sink execution of the analyzed frame,
  * and dump `.explain("formatted")` to `<outDir>/<name>_<tag>.txt` so
  * plan-shape claims are checkable without running Spark.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> [q1,q2,...]
  * Defaults to the Bench headline set. SPARK_GRAFT_SF_DIR / _CPUS as in
  * Bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val tag = if (args.length > 1) args(1) else "before"
    val names =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else graft.Bench.headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession("32", "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // stage-level accounting (guide §1.1): is wall time going to task
    // work, or to scheduling/planning/barriers between stages?
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    val gcMillis = new java.util.concurrent.atomic.AtomicLong
    // per-stage accounting for the CURRENT query (reset per query):
    // stageId -> (name, numTasks, taskMs, gcMs, shuffleReadMs)
    val stageAcc = new java.util.concurrent.ConcurrentHashMap[
      Int, (String, Long, Long, Long, Long)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (t.taskMetrics != null) {
            taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
            gcMillis.addAndGet(t.taskMetrics.jvmGCTime)
            stageAcc.merge(t.stageId,
              ("", 1L, t.taskMetrics.executorRunTime, t.taskMetrics.jvmGCTime,
                t.taskMetrics.shuffleReadMetrics.fetchWaitTime),
              (a, b) => (a._1, a._2 + b._2, a._3 + b._3, a._4 + b._4,
                a._5 + b._5))
          }
        }
      })
    // warmup identical to Bench so JIT state matches what the bench sees
    locally {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    }
    val rows = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      // repeat 3x like Bench; keep min build / median exec
      var lastStats = (0L, 0L, 0L, 0.0, 0L)
      val samples = (1 to 3).map { i =>
        if (i == 3) stageAcc.clear() // per-stage stats for the last repeat
        val j0 = jobs.get; val s0 = stages.get; val t0n = tasks.get
        val tt0 = taskNanos.get; val gc0 = gcMillis.get
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        lastStats = (jobs.get - j0, stages.get - s0, tasks.get - t0n,
          (taskNanos.get - tt0) / 1e9, gcMillis.get - gc0)
        (df, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      // top stages of the final repeat by task time
      locally {
        import scala.jdk.CollectionConverters._
        val top = stageAcc.asScala.toSeq.sortBy(-_._2._3).take(8)
        println(s"-- $name stages (last repeat): " + top.map {
          case (id, (_, n, ms, gc, fw)) =>
            s"s$id[n=$n ${ms}ms gc=${gc}ms fw=${fw}ms]"
        }.mkString(" "))
      }
      val df = samples.last._1
      val build = samples.map(_._2).min
      val exec = samples.map(_._3).sorted.apply(1)
      // formatted plan (pre-execution static) + final AQE executed plan
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val finalPlan = df.queryExecution.executedPlan.toString
      val txt = new StringBuilder
      txt ++= s"== $name ($tag) build=${f"$build%.3f"}s exec=${f"$exec%.3f"}s ==\n\n"
      txt ++= formatted
      txt ++= "\n\n== Final executed plan (AQE) ==\n"
      txt ++= finalPlan
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        txt.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val exchanges = "Exchange".r.findAllIn(finalPlan).length
      (name, build, exec, exchanges, lastStats)
    }
    spark.stop()
    println(f"${"query"}%-28s ${"build_s"}%8s ${"exec_s"}%8s ${"exch"}%5s " +
      f"${"jobs"}%5s ${"stg"}%4s ${"task"}%5s ${"taskSec"}%8s ${"gcMs"}%6s")
    rows.foreach { case (n, b, e, x, (j, st, tk, ts, gc)) =>
      println(f"$n%-28s $b%8.3f $e%8.3f $x%5d $j%5d $st%4d $tk%5d $ts%8.2f $gc%6d")
    }
    println(f"TOTAL build=${rows.map(_._2).sum}%.3f exec=${rows.map(_._3).sum}%.3f")
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.LakeEngine
import graft.lake.LakeTable
import perfbench.Main.nowS
import perfbench.Stats._

/** A one-client closed loop of lake statements through `LakeEngine.sql`
  * on two managed tables seeded from the fixture: `events` partitioned
  * by day(ts), `orders` unpartitioned. Each round runs an INSERT batch,
  * two pruned SELECT aggregates, an UPDATE and a DELETE on each table, a
  * two-table BEGIN..COMMIT and a COPY TO/FROM round trip: four commits
  * per table. The loop runs whole autovacuum cycles (the tables'
  * `autovacuum_commit_interval` over those four commits), so every run
  * compacts each table the same number of times. A model of both
  * tables predicts every SELECT answer and, after `maintain()`, the
  * exact contents a fresh engine must read back.
  */
object LakeMixed {
  /** Commits on each table in one round. */
  val CommitsPerRound = 4

  /** Autovacuum interval set on both tables, in commits: half the
    * library's default of 16, so that a cycle takes two rounds.
    */
  val AutovacuumInterval = 8

  /** Rows as the model keeps them; timestamps in epoch micros. */
  final case class Event(id: Long, ts: Long, user: Long, kind: String,
      value: Double, props: String)
  final case class Order(key: Long, cust: Long, status: String,
      price: Double, date: Long, priority: String)

  private val Day0 = 1704067200000000L // 2024-01-01 UTC, micros
  private val DayUs = 86400000000L
  private val OrderDay0 = 788918400000000L // 1995-01-01 UTC, micros
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def tsLit(us: Long): String =
    "TIMESTAMP '" + java.time.Instant.ofEpochSecond(us / 1000000L)
      .toString.replace('T', ' ').stripSuffix("Z") + "'"

  def eventHash(e: Event): Int =
    MurmurHash3.stringHash(s"${e.id}|${e.ts}|${e.user}|${e.kind}|${e.value}|${e.props}")
  def orderHash(o: Order): Int =
    MurmurHash3.stringHash(s"${o.key}|${o.cust}|${o.status}|${o.price}|${o.date}|${o.priority}")

  private def events(rows: Seq[Row]): Seq[Event] = rows.map(r =>
    Event(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getDouble(4), r.getString(5)))
  private def orders(rows: Seq[Row]): Seq[Order] = rows.map(r =>
    Order(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
      r.getLong(4), r.getString(5)))

  private val EventCols = Seq("event_id", "unix_micros(ts) AS ts", "user_id",
    "event_type", "value", "props")
  private val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "unix_micros(o_orderdate) AS o_orderdate", "o_orderpriority")

  /** (row count, order-independent checksum) of a table's contents. */
  private def digest[T](xs: Iterable[T], h: T => Int): (Long, Long) =
    (xs.size.toLong, xs.foldLeft(0L)((a, x) => a + h(x)))

  private def dirBytes(p: String): Long =
    if (!Files.exists(Paths.get(p))) 0L
    else {
      val s = Files.walk(Paths.get(p))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => Files.size(f)).sum
      finally s.close()
    }

  def run(c: Ctx): Result = {
    val res = new Result
    val rnd = new Random(c.seed)
    val insertRows = c.int("insert_rows")
    val txRows = c.int("tx_rows")

    // set-up: a session and engine, both tables created from the
    // fixture in a fresh warehouse directory; repeated on new sessions
    var spark: SparkSession = null
    var engine: LakeEngine = null
    var wh = ""
    var rep = 0
    val setups = Main.repeat(c.int("setup_reps")) {
      rep += 1
      wh = s"${c.workDir}/lake$rep"
      spark = Main.session(c.cores, c.workDir)
      spark.read.parquet(s"${c.dataDir}/events.parquet")
        .createOrReplaceTempView("seed_events")
      spark.read.parquet(s"${c.dataDir}/orders.parquet")
        .createOrReplaceTempView("seed_orders")
      engine = LakeEngine(spark)
      engine.sql(s"CREATE TABLE events PARTITIONED BY (day(ts)) " +
        s"LOCATION '$wh/events' AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "user_id, event_type, value, props FROM seed_events")
      engine.sql(s"CREATE TABLE orders LOCATION '$wh/orders' AS SELECT " +
        "o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority " +
        "FROM seed_orders")
      Seq("events", "orders").foreach(t => engine.sql(s"ALTER TABLE $t SET " +
        s"(autovacuum_commit_interval '$AutovacuumInterval')"))
    }
    val cycleRounds = AutovacuumInterval / CommitsPerRound
    res.e2e("setup_s") = (median(setups), "s")

    // the model starts from the fixture rows, read without the lake layer
    val evModel = mutable.LinkedHashMap.empty[Long, Event]
    events(spark.table("seed_events").selectExpr(
      "event_id", "unix_micros(CAST(ts AS TIMESTAMP))", "user_id",
      "event_type", "value", "props").collect().toSeq)
      .foreach(e => evModel(e.id) = e)
    val ordModel = mutable.LinkedHashMap.empty[Long, List[Order]]
    orders(spark.table("seed_orders").selectExpr(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "unix_micros(CAST(o_orderdate AS TIMESTAMP))", "o_orderpriority")
      .collect().toSeq).foreach(o => ordModel(o.key) = o :: ordModel.getOrElse(o.key, Nil))
    var nextEvent = evModel.keys.max + 1
    var nextOrder = ordModel.keys.max + 1
    val written = mutable.Map("events" -> evModel.size.toLong,
      "orders" -> ordModel.size.toLong)

    val tracer = new Tracer(spark)
    val stats = new SparkStats(tracer)
    val totals = new SparkTotals
    // (kind, seconds, traced, compacted) per statement; per-layer
    // samples by name
    val stmts = ArrayBuffer.empty[(String, Double, Boolean, Boolean)]
    val layer = mutable.Map.empty[String, ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit =
      layer.getOrElseUpdate(k, ArrayBuffer()) += v
    var on = false

    def compacts() = Seq("events", "orders").map(n => engine.table(n).meta.snapshots
      .count(_.operation == "compact")).sum

    /** Runs one statement, timed; returns its collected rows. Traced
      * runs also note whether autovacuum compacted during it.
      */
    def stmt(kind: String, q: String): Seq[Row] = {
      res.attempted += 1
      val n0 = if (c.trace) compacts() else 0
      val t0 = nowS()
      try {
        c.untracedGap()
        val rows = tracer.span(s"stmt:$kind") {
          val df = tracer.span("sql") {
            val t = nowS()
            val d = engine.sql(q)
            if (kind == "select" && on) sample("engine.select_build_ms", (nowS() - t) * 1e3)
            d
          }
          if (kind == "select") tracer.span("collect")(df.collect().toSeq) else Nil
        }
        val wall = nowS() - t0
        tracer.wall(wall)
        stmts += ((kind, wall, on, c.trace && compacts() > n0))
        rows
      } catch { case e: Throwable =>
        res.failed += 1
        res.notes += s"$kind failed: ${e.getMessage}: $q"
        Nil
      }
    }

    /** An ingest batch: `n` new events, all on one day. */
    def eventValues(n: Int): Seq[Event] = {
      val day = Day0 + rnd.nextInt(30) * DayUs
      (0 until n).map { _ =>
        val e = Event(nextEvent, day + rnd.nextInt(86400) * 1000000L,
          rnd.nextInt(150).toLong, EventTypes(rnd.nextInt(EventTypes.size)),
          BigDecimal(rnd.nextInt(20000), 2).toDouble, s"""{"k": ${rnd.nextInt(100)}}""")
        nextEvent += 1
        e
      }
    }
    def orderValues(n: Int): Seq[Order] = (0 until n).map { _ =>
      val o = Order(nextOrder, rnd.nextInt(1500).toLong,
        Seq("F", "O", "P")(rnd.nextInt(3)),
        BigDecimal(100000 + rnd.nextInt(49900000), 2).toDouble,
        OrderDay0 + rnd.nextInt(2400) * DayUs,
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))
      nextOrder += 1
      o
    }
    def sqlEvent(e: Event) =
      s"(${e.id}, ${tsLit(e.ts)}, ${e.user}, '${e.kind}', ${e.value}, '${e.props}')"
    def sqlOrder(o: Order) =
      s"(${o.key}, ${o.cust}, '${o.status}', ${o.price}, ${tsLit(o.date)}, '${o.priority}')"
    def pick[K](keys: Iterable[K]): K = keys.iterator.drop(rnd.nextInt(keys.size)).next()
    def expectClose(what: String, got: Double, want: Double): Unit =
      if (math.abs(got - want) > 1e-6 * (1.0 + math.abs(want))) {
        res.failed += 1
        res.notes += s"$what: got $got, model says $want"
      }

    val copyDir = s"${c.workDir}/copy"
    Files.createDirectories(Paths.get(copyDir))
    def play(round: Int): Unit = {
      // traced runs alternate traced and untraced rounds
      on = c.trace && round % 2 == 1
      if (on) { stats.register(spark); tracer.enabled = true }
      val first = stmts.size

      val ins = eventValues(insertRows)
      stmt("insert", "INSERT INTO events VALUES " + ins.map(sqlEvent).mkString(", "))
      ins.foreach(e => evModel(e.id) = e)
      written("events") += ins.size

      val day = rnd.nextInt(30)
      val lo = Day0 + day * DayUs
      val dayPred = s"ts >= ${tsLit(lo)} AND ts < ${tsLit(lo + DayUs)}"
      stmt("select", s"SELECT count(*), coalesce(sum(value), 0) FROM events WHERE $dayPred")
        .headOption.foreach { r =>
          val want = evModel.values.filter(e => e.ts >= lo && e.ts < lo + DayUs)
          expectClose("events day count", r.getLong(0).toDouble, want.size.toDouble)
          expectClose("events day sum", r.getDouble(1), want.map(_.value).sum)
        }
      if (on) {
        val (kept, total) = engine.table("events").scanReport
        if (kept + total > 0) sample("lake.files_skipped_frac",
          (total - kept).toDouble / (total max 1))
        val t = nowS()
        engine.table("events").pruneStats(expr(dayPred))
        sample("lake.prune_ms", (nowS() - t) * 1e3)
      }
      val k0 = pick(ordModel.keys)
      stmt("select", "SELECT o_orderstatus, count(*) FROM orders WHERE " +
        s"o_orderkey BETWEEN $k0 AND ${k0 + 99} GROUP BY o_orderstatus")
        .foreach { r =>
          val want = ordModel.values.flatten.count(o =>
            o.key >= k0 && o.key <= k0 + 99 && o.status == r.getString(0))
          expectClose(s"orders status ${r.getString(0)}", r.getLong(1).toDouble, want)
        }

      val ku = pick(evModel.keys)
      stmt("dml", s"UPDATE events SET value = value + 1 WHERE event_id = $ku")
      evModel(ku) = evModel(ku).copy(value = evModel(ku).value + 1)
      val kd = pick(ordModel.keys)
      stmt("dml", s"DELETE FROM orders WHERE o_orderkey = $kd")
      ordModel.remove(kd)
      val kp = pick(ordModel.keys)
      stmt("dml", s"UPDATE orders SET o_totalprice = o_totalprice + 1 WHERE o_orderkey = $kp")
      ordModel(kp) = ordModel(kp).map(o => o.copy(price = o.price + 1))
      val ke = pick(evModel.keys)
      stmt("dml", s"DELETE FROM events WHERE event_id = $ke")
      evModel.remove(ke)

      stmt("tx", "BEGIN")
      val txOrders = orderValues(txRows)
      stmt("tx", "INSERT INTO orders VALUES " + txOrders.map(sqlOrder).mkString(", "))
      val kt = pick(evModel.keys)
      stmt("tx", s"UPDATE events SET value = value * 2 WHERE event_id = $kt")
      stmt("commit", "COMMIT")
      txOrders.foreach(o => ordModel(o.key) = List(o))
      written("orders") += txOrders.size
      evModel(kt) = evModel(kt).copy(value = evModel(kt).value * 2)

      // COPY round trip: this round's new orders out to parquet and back
      // in, so the table then holds each of them twice
      val f = s"$copyDir/r$round.parquet"
      val (a, b) = (txOrders.head.key, txOrders.last.key)
      stmt("copy_to", s"COPY (SELECT * FROM orders WHERE o_orderkey BETWEEN $a AND $b) " +
        s"TO '$f' WITH (format 'parquet')")
      stmt("copy_from", s"COPY orders FROM '$f' WITH (format 'parquet')")
      txOrders.foreach(o => ordModel(o.key) = o :: ordModel(o.key))
      written("orders") += txOrders.size

      if (on) {
        tracer.enabled = false
        PerfbenchBridge.drainListeners(spark.sparkContext)
        stats.unregister(spark)
        totals.add(stats, stmts.drop(first).map(_._2).sum, c.cores)
        stats.reset()
      }
    }
    // untraced runs have no warm-up round: the set-ups already ran the
    // write path, and one would add about 11 s to a run. Traced
    // runs warm up one round, so that the cold round does not fall in
    // the untraced half of the trace overhead comparison.
    if (c.trace) { play(-1); stmts.clear() }
    Main.settle()
    val compacts0 = compacts()
    val deadline = nowS() + c.seconds
    val loopStart = nowS()
    var round = 0
    // whole autovacuum cycles, at least one
    while (round == 0 || round % cycleRounds != 0 || nowS() < deadline) {
      play(round)
      round += 1
    }
    val loopS = nowS() - loopStart
    res.e2e("live_heap_mb") = (Main.settle(), "MB")
    res.e2e("peak_rss_mb") = (Main.peakRssMb(), "MB")
    val compactions = compacts() - compacts0
    val liveRows = evModel.size + ordModel.values.map(_.size).sum
    val locs = Seq("events" -> s"$wh/events", "orders" -> s"$wh/orders")
    val bytesBefore = locs.map(l => dirBytes(l._2)).sum

    val t0 = nowS()
    engine.maintain()
    val maintainMs = (nowS() - t0) * 1e3
    val v0 = nowS()

    // a fresh engine must read exactly what the model predicts
    val loadMs = (1 to 3).map { _ =>
      val t = nowS()
      locs.foreach(l => LakeTable.load(spark, l._2).meta)
      (nowS() - t) * 1e3
    }
    val fresh = LakeEngine(spark)
    locs.foreach { case (n, l) => fresh.loadTable(n, l) }
    val gotEv = digest(events(fresh.table("events").read().selectExpr(EventCols: _*)
      .collect().toSeq), eventHash)
    val gotOrd = digest(orders(fresh.table("orders").read().selectExpr(OrderCols: _*)
      .collect().toSeq), orderHash)
    for ((n, got, want) <- Seq(("events", gotEv, digest(evModel.values, eventHash)),
        ("orders", gotOrd, digest(ordModel.values.flatten, orderHash)))) {
      res.attempted += 1
      if (got != want) {
        res.failed += 1
        res.notes += s"$n after reopen: (rows, checksum) $got, model says $want"
      }
    }

    val plain = stmts.filterNot(_._3)
    val ms = plain.map(_._2 * 1e3).toSeq
    def kindMedians(xs: Iterable[(String, Double, Boolean, Boolean)]) =
      xs.groupBy(_._1).map { case (k, ys) => k -> median(ys.map(_._2 * 1e3).toSeq) }
    val kinds = kindMedians(plain)
    // a round's mean wall time over whole autovacuum cycles, so the
    // compactions are in it
    res.e2e("total_s") = (loopS / round, "s")
    res.e2e("p50_ms") = (median(ms), "ms")
    res.e2e("geomean_ms") = (geomean(ms), "ms")
    res.notes += f"set-up ${setups.sum}%.1f s, " +
      f"maintain ${maintainMs / 1e3}%.1f s, reopen and check ${nowS() - v0}%.1f s"
    res.notes += s"$round rounds in ${"%.1f".format(loopS)} s, $compactions compactions, " +
      s"${plain.size} untraced statements, kinds " +
      kinds.map { case (k, v) => f"$k=$v%.1fms" }.mkString(" ")

    if (c.trace) {
      val spans = tracer.all
      val self = Tracer.selfTimes(spans)
      val tk = kindMedians(stmts.filter(_._3))
      val roots = spans.filter(_.name.startsWith("stmt:"))
      val kindOf = roots.map(s => s.op -> s.name.stripPrefix("stmt:")).toMap
      def sqlSelf(k: String) = median(spans.filter(s => s.name == "sql" &&
        kindOf.get(s.op).contains(k)).map(s => self(s.id) / 1e6))
      res.layer("engine.select_build_ms") =
        (median(layer.getOrElse("engine.select_build_ms", ArrayBuffer()).toSeq), "ms")
      res.layer("engine.insert_self_ms") = (sqlSelf("insert"), "ms")
      res.layer("engine.dml_self_ms") = (sqlSelf("dml"), "ms")
      res.layer("engine.commit_ms") = (tk.getOrElse("commit", 0.0), "ms")
      res.layer("lake.load_ms") = (median(loadMs), "ms")
      res.layer("lake.prune_ms") = (median(layer.getOrElse("lake.prune_ms", ArrayBuffer()).toSeq), "ms")
      val skipped = layer.getOrElse("lake.files_skipped_frac", ArrayBuffer())
      res.layer("lake.files_skipped_frac") =
        (if (skipped.isEmpty) 0.0 else skipped.sum / skipped.size, "ratio")
      val metas = locs.map(l => fresh.table(l._1).meta)
      res.layer("lake.data_files") =
        (metas.map(_.currentSnapshot.map(_.dataFiles.size).getOrElse(0)).sum.toDouble, "count")
      res.layer("lake.manifests") =
        (metas.map(_.currentSnapshot.map(_.manifests.size).getOrElse(0)).sum.toDouble, "count")
      res.layer("lake.snapshots") = (metas.map(_.snapshots.size).sum.toDouble, "count")
      res.layer("lake.metadata_bytes") =
        (locs.map(l => dirBytes(s"${l._2}/_meta")).sum.toDouble, "bytes")
      res.layer("lake.space_bytes_per_row") =
        (locs.map(l => dirBytes(l._2)).sum.toDouble / liveRows, "bytes")
      res.layer("lake.write_bytes_per_row") =
        (bytesBefore.toDouble / written.values.sum, "bytes")
      res.layer("lake.compactions") = (compactions.toDouble, "count")
      res.layer("lake.maintain_ms") = (maintainMs, "ms")
      res.layer("sources.copy_to_ms") = (tk.getOrElse("copy_to", 0.0), "ms")
      res.layer("sources.copy_from_ms") = (tk.getOrElse("copy_from", 0.0), "ms")
      totals.emit(res, (round / 2).toDouble)
      // per statement kind, traced against untraced median, leaving out
      // the statement that compacted: a cycle holds one, in one variant
      val steady = stmts.filterNot(_._4)
      val (tSteady, pSteady) = (kindMedians(steady.filter(_._3)), kindMedians(steady.filterNot(_._3)))
      res.layer("trace.overhead_frac") =
        (geomean(tSteady.collect { case (k, v) if pSteady.contains(k) => v / pSteady(k) }
          .toSeq) - 1.0, "ratio")
      res.layer("trace.self_gap_frac") = (Tracer.selfGap(spans, tracer.opWalls), "ratio")
      Spans.write(s"${c.workDir}/spans.jsonl", spans)
    }
    res
  }
}

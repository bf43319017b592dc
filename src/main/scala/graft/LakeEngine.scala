package graft

import graft.lake.LakeTable
import graft.plans.PgLexer
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.collection.concurrent.TrieMap

/** The public facade (SURVEY.md §7): one SparkSession-hosted library
  * giving pg_lake's capability surface — managed transactional tables
  * ([[graft.lake.LakeTable]]), lake "foreign tables" over raw
  * Parquet/CSV/JSON files with schema inference, COPY-style
  * import/export, file listing, and the PG function layer — with
  * Catalyst doing all relational execution.
  */
final class LakeEngine(val spark: SparkSession) {

  functions.PgFunctions.register(spark)

  private val tables = TrieMap.empty[String, LakeTable]

  // ---- multi-statement transactions ------------------------------------
  //
  // The reference inherits PG ACID: Iceberg metadata operations
  // accumulate across a transaction and apply at pre-commit
  // (pg_lake_iceberg/src/iceberg/metadata_operations.c:159-418;
  // test_iceberg_in_tx.py / test_iceberg_xacts.py pin the observable
  // semantics). Here: BEGIN installs a [[graft.lake.TxOverlay]] on
  // every managed table — DML writes data files eagerly but stages
  // metadata in memory; in-transaction reads see staged state (the
  // engine's views refresh from the overlay-aware `meta`); external
  // readers of the same storage see nothing until COMMIT installs each
  // dirty table's staged metadata as ONE new metadata version under
  // the usual CAS, pinned to the snapshot the transaction started
  // from (a concurrent writer moving the table ⇒ serialization
  // failure, never a lost update). ROLLBACK discards staged metadata
  // and reaps the staged data files. SAVEPOINT marks the per-table
  // staged state; ROLLBACK TO restores it and reaps files staged
  // after the mark. Atomicity: a SINGLE table commits in one CAS; a
  // multi-table COMMIT is made all-or-nothing by the
  // [[graft.lake.TxMarker]] protocol — per-table presumed-abort
  // markers, sequential CASes, and a COMPENSATING un-commit that
  // re-CASes every already-installed table back to its pre-tx base
  // when a later table's CAS loses to a concurrent writer (the
  // un-commit is pinned to the state THIS transaction installed, so a
  // writer that already built on top is never clobbered — that table
  // is left as a logged, unrecoverable boundary, the documented ABA
  // residue). A crash mid-protocol is finished by maintain(), which
  // reads the surviving markers (matching the reference's
  // test_iceberg_xacts.py cross-table atomicity).
  private final class EngineTx {
    // the reference's operation_id: one id labels every file a
    // transaction staged (lake_engine.in_progress_files)
    val txId: String = java.util.UUID.randomUUID().toString
    val overlays =
      scala.collection.mutable.LinkedHashMap.empty[String, lake.TxOverlay]
    // SET LOCAL: key -> the pre-transaction value to restore at END
    // (first SET LOCAL per key wins, PG semantics)
    val localSets =
      scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    // BEGIN READ ONLY: write statements refuse with PG's message
    var readOnly: Boolean = false
    // BEGIN ISOLATION LEVEL REPEATABLE READ / SERIALIZABLE: reads pin
    // committed snapshots at the transaction's ONE snapshot moment
    // (PG RR semantics — the first query's snapshot covers every
    // table; the first access to ANY table triggers the pin of ALL)
    var repeatableRead: Boolean = false
    // SERIALIZABLE adds approximate SSI at COMMIT: every READ-pinned
    // table must still be at its pin, else serialization failure —
    // catching write skew (two transactions each reading the other's
    // table and writing their own). PG's full SSI (tracking predicate
    // reads inside a table) stays documented out of scope.
    var serializable: Boolean = false
    // true once any query/DML statement ran in the block — gates PG's
    // "SET TRANSACTION ... must be called before any query"
    var queryRun: Boolean = false
    // the RR snapshot moment was taken (pinAllTables ran)
    @volatile var pinMomentTaken: Boolean = false
    // tables whose STORAGE was created during the transaction:
    // ROLLBACK drops them (an attached pre-existing table never lands
    // here — rollback must not purge data it did not create)
    val created = scala.collection.mutable.ListBuffer.empty[String]
    // DROP TABLE staged during the transaction (PG DDL is
    // transactional): the registry entry is detached immediately so
    // in-tx reads stop resolving, the record restores it on ROLLBACK
    val dropped = scala.collection.mutable.ListBuffer.empty[StagedDrop]
    // appends to EXTERNAL REST-catalog tables staged in this
    // transaction: committed as ONE spec CommitTransaction batch
    // (all-or-nothing server-side) — see commitRestStaged
    val restStaged =
      scala.collection.mutable.ListBuffer.empty[RestStaged]
    // (name, per-table staged snapshot, created-count, dropped-count,
    // rest-staged-count)
    val savepoints = scala.collection.mutable.ListBuffer.empty[
      (String,
        Map[String, Option[(lake.TableMetadata, lake.TableMetadata)]],
        Int, Int, Int)]
  }

  /** One staged append to an external REST-catalog table: the parquet
    * and Avro manifest list are already written under the TABLE's own
    * location; only the CommitTransaction entry is deferred to COMMIT.
    */
  private final case class RestStaged(
      catalogUri: String, clientId: Option[String],
      clientSecret: Option[String], oauthUri: Option[String],
      namespace: String, table: String, stagedList: String,
      stageLoc: String, rows: Long, snapId: Long,
      stagedPaths: Seq[String])

  /** One DROP TABLE staged inside a transaction: everything needed to
    * restore the table on ROLLBACK (the reference rolls in-tx drops
    * back untouched — test_iceberg_in_tx.py drop shapes, incl.
    * test_in_subtx_fail_with_drop's savepoint variant), and the staged
    * overlay state at drop time so COMMIT can account the
    * never-to-be-referenced data files to the vacuum queue.
    */
  private final case class StagedDrop(
      name: String,
      table: lake.LakeTable,
      stagedAtDrop: Option[(lake.TableMetadata, lake.TableMetadata)],
      domainColsSaved: Option[Seq[(String, String)]],
      colDefaultsSaved: Option[Seq[(String, String)]])
  @volatile private var activeTx: Option[EngineTx] = None

  def inTransaction: Boolean = activeTx.isDefined

  private def txLog = org.slf4j.LoggerFactory.getLogger(getClass)

  def begin(readOnly: Boolean = false,
      repeatableRead: Boolean = false,
      serializable: Boolean = false): Unit = activeTx match {
    case Some(_) =>
      // PG: WARNING, and the transaction continues
      txLog.warn("there is already a transaction in progress")
    case None =>
      val tx = new EngineTx
      tx.readOnly = readOnly
      tx.repeatableRead = repeatableRead || serializable
      tx.serializable = serializable
      tables.foreach { case (n, t) =>
        val ov = new lake.TxOverlay
        ov.repeatableRead = tx.repeatableRead
        ov.pinAll = () => pinAllTables(tx)
        t.txOverlay = Some(ov)
        tx.overlays.put(n, ov)
      }
      activeTx = Some(tx)
  }

  /** The transaction's ONE snapshot moment (PG REPEATABLE READ /
    * SERIALIZABLE semantics: the snapshot taken at the first query
    * covers EVERY table). Triggered by the first access to ANY table
    * (via [[graft.lake.TxOverlay.pinAll]]): pins every registered
    * table's committed state at the same instant, so a concurrent
    * engine's two-table commit landing between this transaction's
    * reads of table A and table B can never be seen half-applied
    * (old A + new B — cross-table read skew PG's RR forbids).
    */
  private def pinAllTables(tx: EngineTx): Unit = tx.synchronized {
    if (!tx.pinMomentTaken) {
      tx.pinMomentTaken = true
      tx.overlays.foreach { case (n, ov) =>
        if (ov.pinned.isEmpty && ov.staged.isEmpty)
          tables.get(n).foreach { t =>
            try ov.pinned = Some(lake.TableMetadata.load(t.location))
            catch { case scala.util.control.NonFatal(e) =>
              // a table that cannot be loaded pins lazily at its own
              // first access instead (and likely errors there too)
              txLog.warn(s"snapshot moment: could not pin $n", e)
            }
          }
      }
    }
  }

  /** PG `SET TRANSACTION ISOLATION LEVEL …`: allowed only before the
    * transaction touched anything (PG: "must be called before any
    * query").
    */
  private def setTxIsolation(repeatableRead: Boolean,
      serializable: Boolean): Unit = {
    val tx = activeTx.getOrElse(throw new IllegalStateException(
      "SET TRANSACTION can only be used in transaction blocks"))
    require(!tx.queryRun && tx.overlays.values.forall(ov =>
        ov.staged.isEmpty && ov.pinned.isEmpty) && tx.dropped.isEmpty &&
        tx.restStaged.isEmpty,
      "SET TRANSACTION ISOLATION LEVEL must be called before any query")
    tx.repeatableRead = repeatableRead || serializable
    tx.serializable = serializable
    tx.overlays.values.foreach(_.repeatableRead = tx.repeatableRead)
  }

  /** Data files `cur` references beyond `base` — parquet the
    * transaction wrote eagerly that no committed snapshot references
    * yet.
    */
  private def stagedPaths(base: lake.TableMetadata,
      cur: lake.TableMetadata): Seq[String] = {
    val keep = base.snapshots.flatMap(_.files.map(_.path)).toSet
    cur.snapshots.flatMap(_.files.map(_.path)).distinct.filterNot(keep)
  }

  /** Staged data files beyond `base` — parquet the transaction wrote
    * eagerly that no committed snapshot will ever reference.
    */
  private def reapStaged(base: lake.TableMetadata,
      cur: lake.TableMetadata): Unit =
    stagedPaths(base, cur).foreach { p =>
      try lake.LakeFs.deleteIfExists(p)
      catch { case scala.util.control.NonFatal(e) =>
        txLog.warn(s"rollback: could not reap staged file $p", e)
      }
    }

  /** The reference's `lake_engine.in_progress_files` view
    * (test_iceberg_in_progress_files.py): every file the ACTIVE
    * transaction has written that no committed snapshot references,
    * labeled by the transaction's operation id. Empty outside a
    * transaction. Files a CRASHED transaction left behind have no
    * in-memory record — VACUUM's grace-bounded unreferenced-file
    * sweep reaps them, same as the reference's vacuum path.
    */
  def inProgressFiles: DataFrame = {
    import spark.implicits._
    activeTx match {
      case None =>
        Seq.empty[(String, String, String)]
          .toDF("path", "operation_id", "table_name")
      case Some(tx) =>
        (tx.overlays.toSeq.flatMap { case (n, ov) =>
          ov.staged.toSeq.flatMap { case (base, cur) =>
            stagedPaths(base, cur).map(p => (p, tx.txId, n))
          }
        } ++
          // files staged for a table whose DROP is itself staged: still
          // on disk, referenced by no committed snapshot — the
          // reference's in-progress queue keeps carrying them until
          // vacuum (test_iceberg_in_tx.py drop shapes)
          tx.dropped.flatMap(d => d.stagedAtDrop.toSeq.flatMap {
            case (base, cur) =>
              stagedPaths(base, cur).map(p => (p, tx.txId, d.name))
          }) ++
          // appends to EXTERNAL REST-catalog tables staged in this
          // transaction: their parquet is on disk, referenced by no
          // committed snapshot until the CommitTransaction batch lands
          tx.restStaged.flatMap(rs => rs.stagedPaths.map(p =>
            (p, tx.txId, s"${rs.namespace}.${rs.table}")))
        ).toDF("path", "operation_id", "table_name")
    }
  }

  private def endTx(tx: EngineTx): Unit = {
    // SET LOCAL reverts at transaction end — COMMIT and ROLLBACK alike
    tx.localSets.foreach { case (key, prior) =>
      (key, prior) match {
        case ("timezone", Some(v)) =>
          spark.conf.set("spark.sql.session.timeZone", v)
          settings.put("timezone", v); ()
        case (k, Some(v)) if k.startsWith("spark.") => spark.conf.set(k, v)
        case (k, None) if k.startsWith("spark.") =>
          try spark.conf.unset(k)
          catch { case _: Exception => () } // non-removable SQLConf
        case (k, Some(v)) => settings.put(k, v); ()
        case (k, None) => settings.remove(k); ()
      }
    }
    tx.overlays.keys.foreach(n =>
      tables.get(n).foreach(_.txOverlay = None))
    activeTx = None
    tx.overlays.keys.foreach(n =>
      if (tables.contains(n) || partParents.contains(n)) refresh(n))
  }

  /** The live value of a setting for SET LOCAL's restore record. */
  private def settingSnapshot(key: String): Option[String] = key match {
    case "timezone" => Some(spark.conf.get("spark.sql.session.timeZone"))
    case k if k.startsWith("spark.") => spark.conf.getOption(k)
    case k => settings.get(k)
  }

  /** PG SET LOCAL: applies for the rest of the transaction, reverts at
    * its end; outside a transaction PG warns and does nothing.
    */
  private def setLocal(key: String, value: String): Unit =
    activeTx match {
      case None =>
        txLog.warn("SET LOCAL can only be used in transaction blocks")
      case Some(tx) =>
        if (!tx.localSets.contains(key))
          tx.localSets.put(key, settingSnapshot(key))
        setSetting(key, value)
    }

  /** Test seam: invoked with the table name immediately before each
    * dirty table's commit-time CAS. Specs use it to land a concurrent
    * write between the pre-flight and a LATER table's install (the
    * all-or-nothing compensation path) and to simulate a crash
    * mid-protocol (a fatal throw skips compensation, leaving the
    * markers for maintain() to recover).
    */
  private[graft] var txPreInstallHook: String => Unit = _ => ()

  /** Pre-transaction state of every multi-table COMMIT participant
    * while its install loop runs — the CATALOG-visibility analogue of
    * the reference's single PG commit instant: external readers going
    * through this engine's REST catalog keep seeing the pre-tx state
    * of EVERY participant until the whole commit lands, then all flip
    * together (one volatile write). Raw storage readers still observe
    * the per-table CAS order — visibility atomicity is a catalog
    * property, exactly as it is a PG property in the reference
    * (test_iceberg_xacts.py reads through PG).
    */
  @volatile private[graft] var txVisibilityPin:
      Map[String, lake.TableMetadata] = Map.empty

  /** Key-scoped pin/unpin: the engine's own multi-table COMMIT and a
    * concurrent REST `transactions/commit` batch may overlap — each
    * must add/remove only ITS participants (a wholesale assignment
    * would wipe the other's pins mid-window). Each update is still
    * one volatile write, so a batch's participants always flip
    * together.
    */
  private[graft] def pinVisibility(
      pins: Map[String, lake.TableMetadata]): Unit = synchronized {
    txVisibilityPin = txVisibilityPin ++ pins
  }

  private[graft] def unpinVisibility(keys: Iterable[String]): Unit =
    synchronized { txVisibilityPin = txVisibilityPin -- keys }

  /** The table state an EXTERNAL reader (the REST catalog surface) may
    * see: never in-transaction staged metadata (PG: other sessions see
    * nothing until COMMIT), and during a multi-table COMMIT's install
    * window the pinned pre-tx state, so cross-table visibility is
    * all-or-nothing.
    */
  private[graft] def committedView(t: LakeTable): lake.TableMetadata =
    txVisibilityPin.getOrElse(t.location,
      lake.TableMetadata.load(t.location))

  /** Catalog-visible table resolution for EXTERNAL readers: PG shows
    * other sessions the PRE-transaction catalog until COMMIT — a
    * table CREATED inside a still-open transaction is invisible, and
    * a table whose DROP is staged still resolves (its committed
    * storage is untouched until the drop commits).
    */
  private[graft] def catalogTable(name: String): Option[LakeTable] =
    activeTx match {
      case Some(tx) if tx.created.contains(name) => None
      case Some(tx) =>
        tables.get(name).orElse(
          tx.dropped.find(_.name == name).map(_.table))
      case None => tables.get(name)
    }

  /** Catalog-visible listing, same pre-transaction rules. */
  private[graft] def catalogTableNames: Seq[String] = activeTx match {
    case Some(tx) =>
      (tables.keys.toSet -- tx.created ++ tx.dropped.map(_.name))
        .toSeq.sorted
    case None => tableNames
  }

  def commitTx(): Unit = activeTx match {
    case None =>
      txLog.warn("there is no transaction in progress") // PG warns too
    case Some(tx) if tx.restStaged.nonEmpty =>
      // appends to EXTERNAL REST-catalog tables: the whole batch goes
      // through ONE spec CommitTransaction (all-or-nothing, one
      // visibility instant, server-side)
      commitRestStaged(tx)
    case Some(tx) =>
      val dirty = tx.overlays.toSeq.flatMap { case (n, ov) =>
        ov.staged.map { case (base, cur) => (n, base, cur) }
      }
      // the TxMarker presumed-abort protocol only matters when MORE
      // THAN ONE table must change together; a single table commits
      // in one CAS and is atomic by construction
      val multi = dirty.size > 1
      val coordinator = dirty.headOption.flatMap { case (n, _, _) =>
        tables.get(n).map(t => lake.TableMetadata.metaDir(t.location))
      }.getOrElse("")
      var installed = 0
      try {
        // SERIALIZABLE: approximate SSI — every table this transaction
        // READ (pinned) but did not write must still be at its pin, or
        // the commit serialization-fails. Catches write skew: two
        // transactions each reading the other's table and writing
        // their own can no longer both commit. (Dirty tables' reads
        // are covered below — their CAS base IS the pin.) PG's full
        // in-table predicate-read SSI stays documented out of scope.
        if (tx.serializable) tx.overlays.foreach { case (n, ov) =>
          ov.pinned.foreach { pin =>
            // only tables the tx actually READ (touched): the snapshot
            // moment pins every table, but a concurrent write to a
            // never-accessed table is no antidependency
            if (ov.touched && ov.staged.isEmpty) tables.get(n).foreach { t =>
              val disk = lake.TableMetadata.load(t.location)
              if (!lake.TxMarker.sameState(disk, pin))
                throw new java.util.ConcurrentModificationException(
                  s"could not serialize access due to read/write " +
                    s"dependencies among transactions: table $n " +
                    "changed after this transaction read it")
            }
          }
        }
        // pre-flight: check every dirty table's base BEFORE installing
        // any — the common multi-table conflict aborts here with zero
        // work done (no marker IO either); a writer landing AFTER this
        // check hits the CAS below and the compensation handler.
        // FULL-state comparison, not snapshot-id: metadata-only
        // operations (ALTER TABLE ADD/RENAME/DROP COLUMN, SET
        // properties, partition-spec changes) advance the schema
        // version or properties WITHOUT moving the snapshot id — an
        // id-only check would let this COMMIT silently erase a
        // concurrent engine's schema change (PG serializes DDL vs DML
        // via the table lock; the CAS must too).
        dirty.foreach { case (n, base, _) =>
          val t = tables.getOrElse(n, throw new IllegalStateException(
            s"table $n vanished during the transaction"))
          val disk = lake.TableMetadata.load(t.location)
          if (!lake.TxMarker.sameState(disk, base))
            throw new java.util.ConcurrentModificationException(
              s"could not serialize access: table $n changed during " +
                s"the transaction (snapshot ${base.currentSnapshotId}" +
                s" -> ${disk.currentSnapshotId}, schema v" +
                s"${base.currentSchemaVersion} -> v" +
                s"${disk.currentSchemaVersion})")
        }
        // markers go down after the pre-flight but before ANY install —
        // the protocol only has to cover the install window. While the
        // install loop runs, markers are re-written (heartbeat) so a
        // SLOW commit's markers never age past another engine's
        // recovery grace: without the heartbeat, a concurrent
        // maintain() could presumed-abort early tables of a commit
        // still in flight.
        var markersAt = 0L
        // marker records are built ONCE, before any install — a
        // heartbeat re-write must repeat the SAME records: recomputing
        // baseVersion mid-loop would point an already-installed
        // table's marker at its OWN install, and a crash after that
        // heartbeat would make recovery refuse the restore (base-hash
        // mismatch)
        val markerRecs = if (!multi) Nil else dirty.map {
          case (n, base, cur) =>
            val t = tables.getOrElse(n, throw new IllegalStateException(
              s"table $n vanished during the transaction"))
            val baseV = lake.TableMetadata.currentVersion(t.location)
              .getOrElse(throw new IllegalStateException(
                s"table $n vanished at ${t.location}"))
            lake.TxMarker(tx.txId, n, t.location,
              coordinator, baseV, lake.TxMarker.stateHash(base),
              lake.TxMarker.stateHash(cur), stagedPaths(base, cur))
        }
        def writeMarkers(): Unit = {
          markerRecs.foreach(lake.TxMarker.write)
          markersAt = System.currentTimeMillis()
        }
        val heartbeatMs = spark.conf.getOption("graft.staging.grace_ms")
          .map(_.trim.toLong).getOrElse(10L * 60 * 1000) / 4
        if (multi) {
          writeMarkers()
          // catalog readers keep seeing every participant's pre-tx
          // state until ALL CASes land — one commit instant, like the
          // reference's PG commit
          pinVisibility(dirty.flatMap { case (n, base, _) =>
            tables.get(n).map(_.location -> base)
          }.toMap)
        }
        dirty.foreach { case (n, base, cur) =>
          val t = tables.getOrElse(n, throw new IllegalStateException(
            s"table $n vanished during the transaction"))
          if (multi &&
              System.currentTimeMillis() - markersAt > heartbeatMs)
            writeMarkers()
          txPreInstallHook(n)
          // ONE new metadata version for everything the transaction
          // did to this table (reference: a single metadata.json push
          // per table at commit), CAS-pinned to the transaction's base
          // (full-state comparison — same reasoning as the pre-flight)
          lake.TableMetadata.commit(t.location) { curOpt =>
            val disk = curOpt.getOrElse(throw new IllegalStateException(
              s"table $n vanished at ${t.location}"))
            if (!lake.TxMarker.sameState(disk, base))
              throw new java.util.ConcurrentModificationException(
                s"could not serialize access: table $n changed " +
                  s"during the transaction (snapshot " +
                  s"${base.currentSnapshotId} -> " +
                  s"${disk.currentSnapshotId})")
            cur
          }
          installed += 1
        }
        // every CAS landed: the commit instant — all participants
        // become catalog-visible TOGETHER (one volatile write)
        if (multi) unpinVisibility(dirty.flatMap { case (n, _, _) =>
          tables.get(n).map(_.location) })
      } catch {
        case scala.util.control.NonFatal(e) =>
          // COMPENSATING UN-COMMIT (all-or-nothing across tables):
          // re-CAS every already-installed table back to its pre-tx
          // base, pinned to the state THIS transaction installed —
          // then reap staged files, drop the markers, and raise the
          // serialization failure with zero tables changed
          dirty.take(installed).reverse.foreach { case (n, base, cur) =>
            try {
              tables.get(n).foreach { t =>
                lake.TableMetadata.commit(t.location) { curOpt =>
                  val disk = curOpt.getOrElse(
                    throw new IllegalStateException(
                      s"table $n vanished at ${t.location}"))
                  if (!lake.TxMarker.sameState(disk, cur))
                    throw new IllegalStateException(
                      s"cannot un-commit $n: a concurrent writer " +
                        "already built on the aborted state")
                  base
                }
                reapStaged(base, cur)
              }
            } catch { case scala.util.control.NonFatal(e2) =>
              txLog.warn(s"abort: could not un-commit table $n " +
                "(left committed — unrecoverable multi-table boundary)",
                e2)
            }
          }
          dirty.drop(installed).foreach { case (_, base, cur) =>
            reapStaged(base, cur)
          }
          if (multi) dirty.foreach { case (n, _, _) =>
            tables.get(n).foreach(t => try lake.LakeFs.deleteIfExists(
              lake.TxMarker.markerPath(t.location, tx.txId))
            catch { case scala.util.control.NonFatal(e2) =>
              txLog.warn(s"abort: could not drop tx marker of $n", e2) })
          }
          // compensation restored every base: catalog readers resume
          // live loads (which now read the restored pre-tx state)
          if (multi) unpinVisibility(dirty.flatMap { case (n, _, _) =>
            tables.get(n).map(_.location) })
          endTx(tx)
          // the WHOLE transaction aborted: every table it created goes
          tx.created.foreach { n =>
            try dropTable(n, purge = true)
            catch { case scala.util.control.NonFatal(e2) =>
              txLog.warn(s"abort: could not drop created table $n", e2) }
          }
          // staged drops roll back with the abort: restore registration
          tx.dropped.foreach(d => undropStaged(tx, d, keepStaged = None))
          throw e
        case t: Throwable =>
          // FATAL (thread interrupt / simulated crash): compensation
          // is skipped — the markers drive recovery — but the catalog
          // visibility pin must not outlive the attempt in a process
          // that SURVIVES the throw: readers fall back to live storage
          // (possibly torn until maintain() finishes the protocol)
          // instead of a stale pre-tx pin forever
          if (multi) unpinVisibility(dirty.flatMap { case (n, _, _) =>
            tables.get(n).map(_.location) })
          throw t
      }
      // every CAS landed — the transaction is COMMITTED from here on;
      // nothing below may trigger compensation
      if (multi) {
        // decision record, then markers, then the decision: a crash
        // between any two steps is finished by maintain() (a marker
        // with the decision present = committed, just clean up). The
        // decision CONTENT lists every dirty table's location so the
        // orphan-decision sweep can finish any surviving sibling
        // markers itself — without this, a marker processed only
        // after the decision was swept would presumed-abort a
        // COMMITTED transaction
        // The transaction is COMMITTED; the surviving markers are now
        // pure hazard (recovery would presumed-abort them without a
        // decision). So the decision write gets a retry, and on double
        // failure the fallback is deleting the markers DIRECTLY —
        // removing the hazard IS the completion; the decision only
        // exists to guide recovery. A commitTx() that returned success
        // must never leave markers that can roll the commit back.
        val decision = lake.TxMarker.decisionPath(coordinator, tx.txId)
        val payload = dirty.flatMap { case (n, _, _) =>
          tables.get(n).map(_.location)
        }.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8)
        val wroteDecision =
          try { lake.LakeFs.writeAtomic(decision, payload); true }
          catch { case scala.util.control.NonFatal(_) =>
            try { lake.LakeFs.writeAtomic(decision, payload); true }
            catch { case scala.util.control.NonFatal(e) =>
              txLog.warn("commit: decision record write failed twice; " +
                "falling back to direct marker removal", e)
              false
            }
          }
        var markerLeft = false
        dirty.foreach { case (n, _, _) =>
          tables.get(n).foreach(t =>
            try lake.LakeFs.deleteIfExists(
              lake.TxMarker.markerPath(t.location, tx.txId))
            catch { case scala.util.control.NonFatal(e) =>
              markerLeft = true
              if (wroteDecision)
                txLog.warn(s"commit: marker cleanup of $n failed " +
                  "(decision present — maintain() will finish it)", e)
              else
                txLog.error(s"commit: marker of $n could not be " +
                  "removed AND the decision record could not be " +
                  "written — recovery may presumed-abort this " +
                  "COMMITTED transaction; clear the marker manually", e)
            })
        }
        // keep the decision while any marker survives: it is what
        // stops recovery from presumed-aborting the committed tx
        if (wroteDecision && !markerLeft)
          try lake.LakeFs.deleteIfExists(decision)
          catch { case scala.util.control.NonFatal(e) =>
            txLog.warn("commit: decision cleanup failed (maintain() " +
              "will finish it)", e)
          }
      }
      // staged DROPs apply now: unregister stays (done at DROP time);
      // the table's tree — committed metadata, data, and the files the
      // transaction staged then orphaned by dropping — goes to the
      // persistent vacuum queue (the reference keeps dropped tables'
      // files until VACUUM: test_iceberg_in_tx.py:560-586)
      tx.dropped.foreach { d =>
        try LakeEngine.queueDroppedTree(spark, d.table.location)
        catch { case scala.util.control.NonFatal(e) =>
          txLog.warn(s"commit: could not queue dropped table " +
            s"${d.name} for vacuum", e)
        }
      }
      try {
        dirty.foreach { case (n, _, cur) =>
          tables.get(n).foreach { t =>
            t.txOverlay = None
            // deferred from every staged commitOp: export only now
            // that the state is committed — never uncommitted metadata
            if (cur.properties.get("iceberg.export").contains("true"))
              lake.IcebergExport.export(t)
            // autovacuum was suppressed during the transaction; give
            // the table its usual post-write maintenance pass (same
            // policy as autocommit). Runs strictly AFTER the marker
            // cleanup: compaction advances the table head, which would
            // otherwise break a crash-recovery state comparison.
            t.maintainIfDue()
          }
        }
      } finally endTx(tx)
  }

  /** COMMIT of a transaction whose writes are appends to EXTERNAL
    * REST-catalog tables: every staged append lands in ONE spec
    * CommitTransaction batch — the server applies all changes or none
    * behind one catalog visibility instant (the multi-table commit
    * point the reference gets from its PG commit). On a requirement
    * conflict the batch retries with FRESH requirements and manifest
    * merges (the staged parquet is untouched — a retry is metadata
    * round trips, never a data rewrite); retries exhausted ⇒
    * serialization failure with every staged tree reaped and NOTHING
    * committed. Multiple appends to the SAME table merge into one
    * change (two changes for one table would self-conflict inside the
    * batch). Mixing engine-managed writes in the same transaction is
    * refused at write time (two commit points cannot be made atomic)
    * and, as a backstop, aborts here.
    */
  private def commitRestStaged(tx: EngineTx): Unit = {
    try {
      if (tx.overlays.values.exists(_.staged.isDefined) ||
          tx.dropped.nonEmpty || tx.created.nonEmpty)
        throw new IllegalStateException(
          "cannot COMMIT a transaction mixing engine-managed writes " +
            "and external REST-catalog appends: the two commit points " +
            "cannot be made atomic — use separate transactions")
      // SERIALIZABLE: local tables this tx READ must still be at
      // their pins — the rest-batch commit path needs the same
      // write-skew protection as the engine commit path
      if (tx.serializable) tx.overlays.foreach { case (n, ov) =>
        ov.pinned.foreach { pin =>
          if (ov.touched && ov.staged.isEmpty)
            tables.get(n).foreach { t =>
              val disk = lake.TableMetadata.load(t.location)
              if (!lake.TxMarker.sameState(disk, pin))
                throw new java.util.ConcurrentModificationException(
                  s"could not serialize access due to read/write " +
                    s"dependencies among transactions: table $n " +
                    "changed after this transaction read it")
            }
        }
      }
      val head = tx.restStaged.head
      val client = new lake.RestCatalogClient(head.catalogUri,
        head.clientId, head.clientSecret, head.oauthUri)
      // appends to one table merge into ONE change, preserving order
      val grouped = tx.restStaged.toList
        .groupBy(rs => (rs.namespace, rs.table)).toSeq
        .sortBy { case ((ns, t), _) => (ns, t) }
      var attempt = 0
      var done = false
      while (!done) {
        var mergeIdx = 0
        val changes = grouped.map { case ((ns, tbl), entries) =>
          val ownList = entries.map(_.stagedList).reduceLeft { (a, b) =>
            mergeIdx += 1
            val merged = lake.LakeFs.child(entries.head.stageLoc,
              s"own-merged-$attempt-$mergeIdx.avro")
            lake.IcebergExport.concatManifestLists(a, b, merged)
            merged
          }
          val cur = client.loadTable(ns, tbl)
          val curMeta = Option(cur.get("metadata"))
          val curSnapId = curMeta
            .flatMap(m => Option(m.get("current-snapshot-id")))
            .map(_.asLong()).filter(_ >= 0)
          val curList = for {
            m <- curMeta
            sid <- curSnapId
            snaps = m.get("snapshots").elements().asScala.toSeq
            s <- snaps.find(_.get("snapshot-id").asLong() == sid)
            ml <- Option(s.get("manifest-list"))
          } yield ml.asText()
          val listPath = curList match {
            case Some(base) =>
              val merged = lake.LakeFs.child(entries.head.stageLoc,
                s"merged-list-$attempt.avro")
              lake.IcebergExport.concatManifestLists(base, ownList,
                merged)
              merged
            case None => ownList
          }
          val seqNum = curMeta
            .flatMap(m => Option(m.get("last-sequence-number")))
            .map(_.asLong()).getOrElse(0L) + 1L
          val schemaId = curMeta
            .flatMap(m => Option(m.get("current-schema-id")))
            .map(_.asInt()).getOrElse(0)
          lake.RestCatalogClient.TableChange(ns, tbl, listPath,
            entries.last.snapId, curSnapId, seqNum, schemaId)
        }
        try {
          client.commitTransaction(changes)
          done = true
        } catch {
          case e: java.io.IOException if e.getMessage.contains("409") =>
            attempt += 1
            if (attempt > 3)
              throw new java.util.ConcurrentModificationException(
                "could not serialize access: the REST " +
                  "CommitTransaction batch kept conflicting: " +
                  e.getMessage)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the batch is all-or-nothing: nothing committed — reap every
        // staged tree and abort the WHOLE transaction (including any
        // mixed local staging that tripped the backstop)
        tx.restStaged.foreach(rs =>
          try lake.LakeFs.deleteRecursive(rs.stageLoc)
          catch { case scala.util.control.NonFatal(e2) =>
            txLog.warn(s"rest-batch abort: could not reap " +
              s"${rs.stageLoc}", e2)
          })
        tx.overlays.values.foreach(_.staged.foreach {
          case (base, cur) => reapStaged(base, cur)
        })
        endTx(tx)
        tx.created.foreach { n =>
          try dropTable(n, purge = true)
          catch { case scala.util.control.NonFatal(e2) =>
            txLog.warn(s"rest-batch abort: could not drop created " +
              s"table $n", e2) }
        }
        tx.dropped.foreach(d => undropStaged(tx, d, keepStaged = None))
        throw e
    }
    endTx(tx)
  }

  /** Restore a table whose DROP was staged in `tx` (the drop is being
    * rolled back): re-register it, reap the data files the transaction
    * staged beyond `keepStaged` (None = beyond the pre-tx base — full
    * rollback), and, when the transaction is still active (savepoint
    * rollback), re-install an overlay carrying `keepStaged`.
    */
  private def undropStaged(tx: EngineTx, d: StagedDrop,
      keepStaged: Option[(lake.TableMetadata, lake.TableMetadata)],
      intoActiveTx: Boolean = false): Unit = {
    d.stagedAtDrop.foreach { case (base, curAtDrop) =>
      val keep = keepStaged.map(_._2).getOrElse(base)
        .snapshots.flatMap(_.files.map(_.path)).toSet
      curAtDrop.snapshots.flatMap(_.files.map(_.path)).distinct
        .filterNot(keep).foreach { p =>
          try lake.LakeFs.deleteIfExists(p)
          catch { case scala.util.control.NonFatal(e) =>
            txLog.warn(s"undrop: could not reap staged file $p", e) }
        }
    }
    tables.put(d.name, d.table)
    d.domainColsSaved.foreach(domainCols.put(d.name, _))
    d.colDefaultsSaved.foreach(colDefaults.put(d.name, _))
    if (intoActiveTx) {
      val ov = new lake.TxOverlay
      ov.repeatableRead = tx.repeatableRead
      ov.staged = keepStaged
      d.table.txOverlay = Some(ov)
      tx.overlays.put(d.name, ov)
    } else d.table.txOverlay = None
    refresh(d.name)
  }

  def rollbackTx(): Unit = activeTx match {
    case None =>
      txLog.warn("there is no transaction in progress") // PG warns too
    case Some(tx) =>
      tx.overlays.values.foreach(_.staged.foreach {
        case (base, cur) => reapStaged(base, cur)
      })
      // REST appends staged in the transaction: nothing was committed
      // (the CommitTransaction entry only exists at COMMIT) — reap
      tx.restStaged.foreach(rs =>
        try lake.LakeFs.deleteRecursive(rs.stageLoc)
        catch { case scala.util.control.NonFatal(e) =>
          txLog.warn(s"rollback: could not reap ${rs.stageLoc}", e) })
      endTx(tx)
      tx.created.foreach { n =>
        try dropTable(n, purge = true)
        catch { case scala.util.control.NonFatal(e) =>
          txLog.warn(s"rollback: could not drop created table $n", e) }
      }
      // staged DROPs roll back untouched (PG DDL is transactional;
      // reference test_iceberg_in_tx.py drop-then-rollback)
      tx.dropped.foreach(d => undropStaged(tx, d, keepStaged = None))
  }

  def savepoint(name: String): Unit = {
    val tx = activeTx.getOrElse(throw new IllegalStateException(
      "SAVEPOINT can only be used in transaction blocks"))
    tx.savepoints += ((name.toLowerCase,
      tx.overlays.map { case (n, ov) => n -> ov.staged }.toMap,
      tx.created.size, tx.dropped.size, tx.restStaged.size))
  }

  def rollbackToSavepoint(name: String): Unit = {
    val tx = activeTx.getOrElse(throw new IllegalStateException(
      "ROLLBACK TO SAVEPOINT can only be used in transaction blocks"))
    val i = tx.savepoints.lastIndexWhere(_._1 == name.toLowerCase)
    require(i >= 0, s"""savepoint "$name" does not exist""")
    val (_, marks, createdCount, droppedCount, restCount) =
      tx.savepoints(i)
    // REST appends staged after the mark roll back: their staged
    // trees reap (nothing was committed — the CommitTransaction entry
    // only exists at COMMIT)
    tx.restStaged.drop(restCount).foreach { rs =>
      try lake.LakeFs.deleteRecursive(rs.stageLoc)
      catch { case scala.util.control.NonFatal(e) =>
        txLog.warn(s"savepoint rollback: could not reap ${rs.stageLoc}", e) }
    }
    tx.restStaged.remove(restCount, tx.restStaged.size - restCount)
    // DROPs staged after the mark roll back first: the table returns
    // to the transaction carrying the staged state it had AT the mark
    // (reference test_in_subtx_fail_with_drop: INSERTs + DROP inside a
    // savepoint, ROLLBACK TO restores the pre-savepoint table)
    val undone0 = tx.dropped.drop(droppedCount).toList
    tx.dropped.remove(droppedCount, tx.dropped.size - droppedCount)
    undone0.foreach { d =>
      undropStaged(tx, d, keepStaged = marks.getOrElse(d.name, None),
        intoActiveTx = true)
    }
    tx.overlays.foreach { case (n, ov) =>
      val target = marks.getOrElse(n, None)
      ov.staged.foreach { case (base, curNow) =>
        // reap parquet staged after the mark: referenced now, not by
        // the restored state (target's current contains every base
        // snapshot, so base files always survive)
        val keep = target.map(_._2).getOrElse(base)
          .snapshots.flatMap(_.files.map(_.path)).toSet
        curNow.snapshots.flatMap(_.files.map(_.path)).distinct
          .filterNot(keep).foreach { p =>
            try lake.LakeFs.deleteIfExists(p)
            catch { case scala.util.control.NonFatal(e) =>
              txLog.warn(s"savepoint rollback: could not reap $p", e) }
          }
      }
      ov.staged = target
    }
    // tables created after the mark roll back entirely
    val undone = tx.created.drop(createdCount).toList
    tx.created.remove(createdCount, tx.created.size - createdCount)
    undone.foreach { n =>
      tx.overlays.remove(n)
      tables.get(n).foreach(_.txOverlay = None)
      try dropTable(n, purge = true)
      catch { case scala.util.control.NonFatal(e) =>
        txLog.warn(s"savepoint rollback: could not drop $n", e) }
    }
    // PG keeps the savepoint itself usable after ROLLBACK TO; later
    // savepoints are destroyed
    tx.savepoints.remove(i + 1, tx.savepoints.size - (i + 1))
    tx.overlays.keys.foreach(n => if (tables.contains(n)) refresh(n))
  }

  def releaseSavepoint(name: String): Unit = {
    val tx = activeTx.getOrElse(throw new IllegalStateException(
      "RELEASE SAVEPOINT can only be used in transaction blocks"))
    val i = tx.savepoints.lastIndexWhere(_._1 == name.toLowerCase)
    require(i >= 0, s"""savepoint "$name" does not exist""")
    // PG: destroys the named savepoint and everything after it; state
    // is untouched
    tx.savepoints.remove(i, tx.savepoints.size - i)
  }

  // PREPARE name (types) AS stmt → (statement text, declared types).
  // The reference exercises this surface over the wire protocol
  // (test_prepared.py); here EXECUTE splices argument expressions into
  // the $N slots (PG evaluates EXECUTE arguments before binding, so
  // the splice is equivalent for any side-effect-free expression) and
  // re-enters sql(), so prepared DML routes through the same
  // transactional write path as direct DML.
  private val prepared = TrieMap.empty[String, (String, Seq[String])]

  // CREATE VIEW registry (reference test_view_pushdown.py): definition
  // TEXT in insertion order. PG expands views at query time; a Spark
  // temp view pins the plan — so every snapshot refresh re-applies the
  // stored definitions (in creation order, so view-on-view stays
  // consistent) and views always see the current table state.
  private val viewDefs = new java.util.LinkedHashMap[String, String]
  // materialized views: name → definition; the data lives in a managed
  // lake table under the same name (the reference's matviews are heap
  // tables — precomputed, not pushed down; ours are lake tables)
  private val matViews = TrieMap.empty[String, String]
  // SET/SHOW/RESET session settings. `timezone` maps onto the Spark
  // session timezone (drives timestamptz parsing/rendering exactly
  // like PG's GUC); dotted keys are custom GUCs per PG's rule; spark.*
  // keys pass through to the session conf.
  private val settings = TrieMap.empty[String, String]
  // pre-SET values of spark.* confs (None = was unset), for RESET
  private val originalConf = TrieMap.empty[String, Option[String]]
  private val initialTimeZone = spark.conf.get("spark.sql.session.timeZone")

  // CREATE DOMAIN registry (reference test_domain.py): base PG type +
  // optional DEFAULT and CHECK (the CHECK references the value as
  // `VALUE`, PG's keyword). Columns typed by a domain store the BASE
  // type in table metadata (the test's Iceberg-field assertion);
  // engine-side the per-table domain columns drive write-time checks
  // and insert defaults.
  private case class Domain(base: String, default: Option[String],
      check: Option[String])
  private val domains = TrieMap.empty[String, Domain]
  // table → (column, domain name) for domain-typed columns
  private val domainCols = TrieMap.empty[String, Seq[(String, String)]]
  // table → (column, default SQL) for plain column DEFAULTs
  private val colDefaults = TrieMap.empty[String, Seq[(String, String)]]

  // inheritance registry (reference test_inheritance.py): child →
  // parent. A parent's registered view is the UNION ALL of its own
  // rows and every descendant's, projected onto the parent's columns —
  // the reference plans the same UNION engine-side.
  private val inheritsOf = TrieMap.empty[String, String]
  // declarative range partitioning (test_inheritance.py
  // test_partitioning): parent → (schema, key column); children carry
  // [from, to) bounds (None = DEFAULT partition) and also enter
  // inheritsOf so reads reuse the family union.
  private case class RangePart(child: String, from: Option[String],
      to: Option[String])
  private val partParents = TrieMap.empty[String, (StructType, String)]
  private val partChildren = TrieMap.empty[String, Vector[RangePart]]

  private def childrenOf(name: String): Seq[String] =
    inheritsOf.toSeq.collect { case (c, p) if p == name => c }.sorted

  /** The table plus every transitive descendant. */
  private def familyOf(name: String): Seq[String] =
    name +: childrenOf(name).flatMap(familyOf)

  /** A member's OWN rows (no descendants): lake table snapshot, a
    * partitioned parent's empty frame, or a registered foreign view.
    */
  private def ownRows(name: String): DataFrame =
    tables.get(name).map(_.readIndexed()).getOrElse {
      partParents.get(name) match {
        case Some((schema, _)) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        case None => spark.table(name)
      }
    }

  /** Family view: own rows + descendants, projected onto this table's
    * columns (PG parent scans see the parent's column set). `own`
    * supplies each member's own frame.
    */
  private def familyFrame(name: String, own: String => DataFrame)
      : DataFrame = {
    val self = own(name)
    val cols = self.columns.toSeq
    childrenOf(name).foldLeft(self) { (acc, c) =>
      acc.unionAll(familyFrame(c, own).select(cols.map(col): _*))
    }
  }

  /** Re-register the views of `name`, every descendant (family DML
    * moves their snapshots too), and every ancestor (a child's
    * snapshot move must surface through the parents' union views).
    */
  private def refreshFamilyViews(name: String): Unit = {
    val ancestors = Iterator.iterate(inheritsOf.get(name))(
      _.flatMap(inheritsOf.get)).takeWhile(_.isDefined).flatten.toSeq
    // each member's own frame is built once and shared by its ONLY view
    // and every family union holding it, so both views plan the one
    // pruning index that scanReport reads
    val own = scala.collection.mutable.Map.empty[String, DataFrame]
    def ownOf(n: String): DataFrame = own.getOrElseUpdate(n, ownRows(n))
    (familyOf(name) ++ ancestors).foreach { n =>
      if (tables.contains(n) || partParents.contains(n)) {
        // PG `FROM ONLY parent`: the parent's OWN rows, no descendants
        // (plans/OnlyRewrite maps the syntax onto this view; registered
        // for childless tables too — PG's ONLY is a no-op there)
        ownOf(n).createOrReplaceTempView(s"__only_$n")
        familyFrame(n, ownOf).createOrReplaceTempView(n)
        tables.get(n).foreach(t =>
          try lake.TableMetadata.currentVersion(t.location)
            .foreach(v => viewVersions.put(n, v))
          catch { case scala.util.control.NonFatal(_) => () })
      }
    }
  }

  private def reapplyViews(): Unit = viewDefs.synchronized {
    viewDefs.forEach((n, sel) =>
      QueryDef.pgPlan(spark, sel).createOrReplaceTempView(n))
  }

  // The on-disk metadata version each table's registered views were
  // built from. A registered view pins the file list of the snapshot
  // it was planned against, so ANOTHER engine's/process's commit is
  // invisible to sql() until the view re-registers — but PG READ
  // COMMITTED sees other sessions' commits on the NEXT statement
  // (foreign scans re-read Iceberg metadata per statement). sql()
  // therefore compares the version POINTER of every table the
  // statement references (one tiny metadata read per referenced
  // table — the same per-statement cost the reference pays) and
  // re-registers views that moved. In-transaction semantics are
  // preserved: refresh() rebuilds from the overlay-aware meta, so
  // staged state stays visible and REPEATABLE READ pins stay pinned.
  private val viewVersions = TrieMap.empty[String, Int]

  /** Table/parent names `stmt` references, expanded through view
    * definitions (a statement naming view v reads v's underlying
    * tables) and inheritance/partition families. Substring match is
    * deliberate: a false positive only costs one version-pointer
    * read.
    */
  private def referencedTables(stmt: String): Set[String] = {
    val lower = stmt.toLowerCase
    var texts = List(lower)
    var seenViews = Set.empty[String]
    var grew = true
    while (grew) {
      grew = false
      viewDefs.synchronized {
        viewDefs.forEach { (v, sel) =>
          if (!seenViews.contains(v) &&
              texts.exists(_.contains(v.toLowerCase))) {
            seenViews += v
            texts ::= sel.toLowerCase
            grew = true
          }
        }
      }
      matViews.foreach { case (v, sel) =>
        if (!seenViews.contains(v) &&
            texts.exists(_.contains(v.toLowerCase))) {
          seenViews += v
          texts ::= sel.toLowerCase
          grew = true
        }
      }
    }
    val named = (tables.keys ++ partParents.keys).filter(n =>
      texts.exists(_.contains(n.toLowerCase))).toSet
    named.flatMap(familyOf).filter(tables.contains)
  }

  /** PG READ COMMITTED cross-process freshness: re-register the views
    * of referenced tables whose on-disk metadata version moved since
    * their views were built (another engine/process committed).
    */
  private def refreshStaleViews(stmt: String): Unit =
    if (tables.nonEmpty) referencedTables(stmt).foreach { n =>
      tables.get(n).foreach { t =>
        try lake.TableMetadata.currentVersion(t.location).foreach { v =>
          if (!viewVersions.get(n).contains(v)) refresh(n)
        } catch { case scala.util.control.NonFatal(e) =>
          txLog.warn(s"freshness check of $n failed", e)
        }
      }
    }

  // ------------------------------------------------------ managed tables

  /** A name whose DROP is staged in the active transaction cannot be
    * reused (COMMIT would queue the OLD tree for deletion while the new
    * table may share the prefix). Refused HERE, before any storage is
    * created — register()'s backstop fires after the tree exists and
    * would leak an orphaned directory.
    */
  private def refuseDroppedName(name: String): Unit =
    activeTx.foreach(tx => require(!tx.dropped.exists(_.name == name),
      s"cannot re-create table $name dropped in the same transaction"))

  def createTable(name: String, location: String, schema: StructType,
      partitionBy: Seq[String] = Nil): LakeTable = {
    refuseDroppedName(name)
    register(name, LakeTable.create(spark, location, name, schema, partitionBy))
  }

  def createTableAsSelect(name: String, location: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): LakeTable = {
    refuseDroppedName(name)
    register(name, LakeTable.createAsSelect(spark, location, name, df, partitionBy))
  }

  def loadTable(name: String, location: String): LakeTable =
    register(name, LakeTable.load(spark, location), createdStorage = false)

  def table(name: String): LakeTable = tables.getOrElse(name,
    throw new IllegalArgumentException(s"unknown lake table $name"))

  def tableOption(name: String): Option[LakeTable] = tables.get(name)

  def tableNames: Seq[String] = tables.keys.toSeq.sorted

  /** Serve this engine's registry as an Iceberg REST catalog (the
    * reference's headline attach surface, rest_catalog_ops.c:1-763);
    * port 0 picks an ephemeral port. Caller stops it. Pass
    * `credentials` to require OAuth2 client-credentials + bearer
    * tokens on every route (the reference's rest_catalog_auth.c
    * posture); empty map = open catalog (dev only).
    */
  def serveRestCatalog(port: Int = 0,
      credentials: Map[String, String] = Map.empty,
      tokenTtlMillis: Long = 3600L * 1000): lake.RestCatalog =
    new lake.RestCatalog(this, port, credentials, tokenTtlMillis)

  /** Foreign table over a table an EXTERNAL Iceberg REST catalog
    * serves (the reference's Polaris-attach direction,
    * rest_catalog_ops.c + test_polaris_catalog.py): one LoadTable
    * round trip resolves the current metadata location, then the scan
    * reads the snapshot like any external-Iceberg foreign table —
    * pinned at THAT snapshot until re-attached, data reads never
    * touch the catalog again. OAuth2 + the 419/429/503 retry ladder
    * live in [[lake.RestCatalogClient]].
    */
  def createRestCatalogTable(name: String, catalogUri: String,
      namespace: String, table: String,
      clientId: Option[String] = None,
      clientSecret: Option[String] = None,
      oauthUri: Option[String] = None): DataFrame = {
    val client = new lake.RestCatalogClient(catalogUri, clientId,
      clientSecret, oauthUri)
    val metaLoc = client.loadTableMetadataLocation(namespace, table)
    createLakeTable(name, metaLoc.stripPrefix("file://"),
      format = Some("iceberg"))
  }

  /** The WRITABLE rest-catalog direction (reference `WITH
    * (catalog='rest')` tables, test_polaris_catalog_writable.py):
    * register a new table in the external catalog from a Spark
    * schema. Returns the catalog's LoadTableResult metadata location.
    */
  def createRestTable(catalogUri: String, namespace: String,
      table: String, schema: StructType,
      clientId: Option[String] = None,
      clientSecret: Option[String] = None,
      oauthUri: Option[String] = None): String = {
    val client = new lake.RestCatalogClient(catalogUri, clientId,
      clientSecret, oauthUri)
    val res = client.createTable(namespace, table, schema)
    res.get("metadata-location").asText()
  }

  /** Append `df` to a table an EXTERNAL REST catalog owns — the
    * commit is arbitrated by the CATALOG, not by us (the reference's
    * writable-rest flow: the writer stages data + Iceberg metadata,
    * only CommitTable goes through the catalog;
    * track_iceberg_metadata_changes.c records the REST requests the
    * same way). Protocol: LoadTable → align + write parquet under the
    * table's own location → export a real Avro manifest list → POST
    * add-snapshot with assert-ref-snapshot-id. A 409 (another writer
    * landed first) retries with a FRESH requirement — the staged
    * files are untouched, only the requirement re-resolves, so a
    * retry is one metadata round trip, never a data rewrite. This is
    * the multi-writer story at scale: N engines appending to one
    * catalog-arbitrated table, losers retrying cheaply.
    */
  def insertIntoRestTable(catalogUri: String, namespace: String,
      table: String, df: DataFrame,
      clientId: Option[String] = None,
      clientSecret: Option[String] = None,
      oauthUri: Option[String] = None,
      maxCommitRetries: Int = 3): Long = {
    val client = new lake.RestCatalogClient(catalogUri, clientId,
      clientSecret, oauthUri)
    activeTx match {
      case Some(tx) =>
        // BEGIN READ ONLY covers API writes too (sql()'s regex guard
        // never sees this path)
        if (tx.readOnly) throw new IllegalStateException(
          "cannot execute INSERT in a read-only transaction")
        // inside a transaction the append STAGES (parquet + manifest
        // list written now, like every engine write) and the catalog
        // commit defers to COMMIT, where every staged append lands in
        // ONE spec CommitTransaction batch — all-or-nothing
        // server-side with one visibility instant. Atomicity holds
        // only WITHIN one catalog and cannot span the engine's own
        // tables (two commit points), so both mixes refuse loudly.
        require(tx.restStaged.forall(_.catalogUri == catalogUri),
          "REST appends in one transaction must share one catalog " +
            "(a single CommitTransaction batch is the atomicity unit)")
        require(!tx.overlays.values.exists(_.staged.isDefined) &&
            tx.dropped.isEmpty && tx.created.isEmpty,
          "cannot mix engine-managed writes and external REST-catalog " +
            "appends in one transaction: the two commit points cannot " +
            "be made atomic — use separate transactions")
        val (stagedList, stageLoc, rows, snapId, paths) =
          stageRestAppend(client, namespace, table, df)
        tx.restStaged += RestStaged(catalogUri, clientId, clientSecret,
          oauthUri, namespace, table, stagedList, stageLoc, rows, snapId,
          paths)
        rows
      case None =>
        autocommitRestAppend(client, namespace, table, df,
          maxCommitRetries)
    }
  }

  /** Stage one REST append: align the frame to the table's schema,
    * write parquet under the table's own location, export a real Avro
    * manifest list. Returns (manifest list, staging dir, rows,
    * snapshot id) — the catalog commit is the caller's.
    */
  private def stageRestAppend(client: lake.RestCatalogClient,
      namespace: String, table: String,
      df: DataFrame): (String, String, Long, Long, Seq[String]) = {
    val load0 = client.loadTable(namespace, table)
    val metaLoc0 = load0.get("metadata-location").asText()
    val localMeta = metaLoc0.stripPrefix("file://")
    // schema/location from the LoadTableResult's INLINE metadata —
    // no file round trip, immune to a concurrent re-export of the
    // metadata file
    val meta0 = Option(load0.get("metadata")).getOrElse(
      sources.IcebergSnapshot.metadata(localMeta))
    val defs = sources.IcebergSnapshot.fieldDefsOfMetadata(meta0)
    // stats in the staged manifests key by OUR field ids; refuse
    // loudly when the target's ids aren't the fresh 1..n sequence
    // (an evolved table would silently mis-key bounds otherwise)
    require(defs.zipWithIndex.forall { case (f, i) => f.id == i + 1 },
      s"$namespace.$table has evolved field ids " +
        s"(${defs.map(_.id).mkString(",")}): the REST append path " +
        "only supports tables with fresh sequential ids")
    val aligned = df.select(defs.map(f =>
      col(f.name).cast(org.apache.spark.sql.types.DataType
        .fromDDL(f.dataType)).as(f.name)): _*)
    val tableLoc = Option(meta0.get("location"))
      .map(_.asText().stripPrefix("file://"))
      .getOrElse(java.nio.file.Paths.get(localMeta)
        .getParent.getParent.toString)
    // data files live under the TABLE's location (the reference
    // writer does the same) — readers resolve absolute paths from
    // the manifests, vacuum sweeps see them
    val stageLoc = lake.LakeFs.child(tableLoc,
      s"_ext/${java.util.UUID.randomUUID()}")
    val scratch = lake.LakeTable.createAsSelect(spark, stageLoc,
      s"__rest_stage_$table", aligned)
    val stagedMeta = lake.IcebergExport.export(scratch)
    val stagedList = sources.IcebergSnapshot.metadata(stagedMeta)
      .get("snapshots").elements().asScala.toSeq.last
      .get("manifest-list").asText()
    val rows = scratch.meta.currentSnapshot
      .map(_.files.map(_.rows).sum).getOrElse(0L)
    val snapId = java.util.UUID.randomUUID()
      .getMostSignificantBits & Long.MaxValue
    (stagedList, stageLoc, rows, snapId,
      scratch.meta.currentSnapshot.toSeq.flatMap(_.files.map(_.path)))
  }

  /** Autocommit REST append: stage, then CommitTable with retry — a
    * 409 (another writer landed first) re-resolves the requirement
    * and current manifest list; the staged files are untouched, so a
    * retry is one metadata round trip, never a data rewrite.
    */
  private def autocommitRestAppend(client: lake.RestCatalogClient,
      namespace: String, table: String, df: DataFrame,
      maxCommitRetries: Int): Long = {
    val (stagedList, stageLoc, rows, snapId, _) =
      stageRestAppend(client, namespace, table, df)
    var attempt = 0
    var committed = false
    while (!committed) {
      val cur = client.loadTable(namespace, table)
      val curMeta = Option(cur.get("metadata"))
      val curSnapId = curMeta
        .flatMap(m => Option(m.get("current-snapshot-id")))
        .map(_.asLong()).filter(_ >= 0)
      // an Iceberg snapshot's manifest list is the table's FULL
      // state: an append carries the target's CURRENT manifests
      // alongside the staged one. Recomputed per attempt — a 409
      // means the current list moved.
      val curList = for {
        m <- curMeta
        sid <- curSnapId
        snaps = m.get("snapshots").elements().asScala.toSeq
        s <- snaps.find(_.get("snapshot-id").asLong() == sid)
        ml <- Option(s.get("manifest-list"))
      } yield ml.asText()
      val listPath = curList match {
        case Some(base) =>
          val merged = lake.LakeFs.child(stageLoc,
            s"merged-list-$attempt.avro")
          lake.IcebergExport.concatManifestLists(base, stagedList, merged)
          merged
        case None => stagedList
      }
      // spec-required snapshot fields, resolved from the state this
      // attempt read: sequence-number monotone past the table's
      // last-sequence-number, schema-id = the current schema
      val seqNum = curMeta
        .flatMap(m => Option(m.get("last-sequence-number")))
        .map(_.asLong()).getOrElse(0L) + 1L
      val schemaId = curMeta
        .flatMap(m => Option(m.get("current-schema-id")))
        .map(_.asInt()).getOrElse(0)
      try {
        // curSnapId = None means the table has NO current snapshot —
        // the requirement is still sent (null snapshot-id asserts the
        // ref has none) so two racing FIRST appends conflict instead
        // of the later one silently dropping the earlier one's rows
        client.commitAddSnapshot(namespace, table, listPath, snapId,
          curSnapId, sequenceNumber = seqNum, schemaId = schemaId)
        committed = true
      } catch {
        case e: java.io.IOException
            if e.getMessage.contains("409") &&
              attempt < maxCommitRetries =>
          attempt += 1 // another writer landed; re-resolve and retry
      }
    }
    rows
  }

  private[graft] def register(name: String, t: LakeTable,
      createdStorage: Boolean = true): LakeTable = {
    tables.put(name, t)
    // a table registered inside a transaction joins the transaction:
    // its writes stage like everyone else's. Only a table whose
    // STORAGE this statement created is rollback-droppable — an
    // attached pre-existing table (loadTable, rename) must never be
    // purged by ROLLBACK.
    activeTx.foreach { tx =>
      // a name whose DROP is staged in this transaction cannot be
      // reused: COMMIT would queue the OLD tree for deletion while the
      // new table may share the prefix — refuse rather than corrupt
      require(!tx.dropped.exists(_.name == name),
        s"cannot re-create table $name dropped in the same transaction")
      if (!tx.overlays.contains(name)) {
        val ov = new lake.TxOverlay
        ov.repeatableRead = tx.repeatableRead
        ov.pinAll = () => pinAllTables(tx)
        // a table attached AFTER the transaction's snapshot moment
        // joins at its committed state as of registration — the
        // closest available approximation of the moment (the snapshot
        // log does not retain arbitrary as-of states)
        if (tx.repeatableRead && tx.pinMomentTaken)
          try ov.pinned = Some(lake.TableMetadata.load(t.location))
          catch { case scala.util.control.NonFatal(e) =>
            txLog.warn(s"snapshot moment: could not pin $name", e) }
        t.txOverlay = Some(ov)
        tx.overlays.put(name, ov)
        if (createdStorage) tx.created += name
      }
    }
    refreshFamilyViews(name)
    reapplyViews()
    t
  }

  /** Refresh the temp view after DML (snapshot pointer moved); a
    * child's move re-registers every ancestor's family union too.
    */
  def refresh(name: String): Unit = {
    if (tables.contains(name) || partParents.contains(name))
      refreshFamilyViews(name)
    reapplyViews()
  }

  /** Maintenance sweep over every registered managed table — the
    * engine-level analogue of the reference's autovacuum worker loop
    * (pg_lake_table/src/ddl/vacuum.c:108 `pg_lake_iceberg_vacuum`
    * iterates all iceberg tables; bare `VACUUM` reaches it too).
    * Per-table policy via table properties:
    *   - `autovacuum_enabled` (default true) — false skips the table
    *     entirely on THIS sweep path; a manual `VACUUM tbl` /
    *     [[LakeTable.vacuum]] still always compacts (the reference
    *     mirrors the heap storage parameter the same way, :356-360);
    *   - `autovacuum_compact_data_files` (default true) — false skips
    *     only the data-file rewrite, snapshot expiry still runs;
    *   - `autovacuum_keep_snapshots` (default 3) and
    *     `autovacuum_grace_ms` (default 10 min) bound the expiry.
    * Returns the names it maintained. Safe against concurrent writers:
    * both halves are CAS-guarded and retrying. The sweep also reclaims
    * abandoned staging directories under [[LakeEngine.stagingRoot]]
    * older than `graft.staging.grace_ms` (default 10 min) — orphans a
    * crashed driver left mid-statement.
    */
  def maintain(): Seq[String] = {
    // sweep abandoned staging dirs first (a driver crash mid
    // partitioned-INSERT / COPY leaves its staging dir behind; live
    // staging is created and deleted within ONE statement, so
    // anything older than the grace is an orphan). Same grace default
    // as snapshot expiry; per-entry isolation like the table sweep.
    try {
      val grace = spark.conf.getOption("graft.staging.grace_ms")
        .map(_.trim.toLong).getOrElse(10L * 60 * 1000)
      val root = LakeEngine.stagingRoot(spark)
      val now = System.currentTimeMillis()
      lake.LakeFs.listNames(root).foreach { n =>
        val p = lake.LakeFs.child(root, n)
        try if (now - lake.LakeFs.mtime(p) > grace)
          lake.LakeFs.deleteRecursive(p)
        catch {
          case scala.util.control.NonFatal(e) =>
            // never fail the sweep, but never go silent either: a
            // persistently undeletable orphan must surface in logs
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"staging sweep: could not reclaim $p", e)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn("staging sweep failed", e)
    }
    // finish crashed multi-table COMMIT protocols ([[lake.TxMarker]]):
    // a marker older than the grace with its decision record present
    // means the transaction committed (just clean up); with no
    // decision, presumed abort — restore the pre-tx base wherever that
    // transaction's install is still the table head
    tables.toSeq.sortBy(_._1).foreach { case (name, t) =>
      try recoverTxMarkers(name, t.location)
      catch { case scala.util.control.NonFatal(e) =>
        txLog.warn(s"tx-marker recovery of $name failed", e)
      }
    }
    // reap committed transactional DROPs (the persistent vacuum queue:
    // the reference keeps a dropped table's metadata and data until
    // VACUUM — test_iceberg_in_tx.py:560-586)
    processDroppedQueue()
    tables.keys.toSeq.sorted.flatMap { name =>
    tables.get(name).flatMap { t =>
      try {
      val p = t.meta.properties
      if (!LakeTable.pgBool(p.getOrElse("autovacuum_enabled", "true"),
        "autovacuum_enabled")) None
      else {
        if (LakeTable.pgBool(
          p.getOrElse("autovacuum_compact_data_files", "true"),
          "autovacuum_compact_data_files"))
          t.compact()
        t.mergeManifests()
        // trimmed like the DDL-time validator (which accepts ' 5 '):
        // a whitespace-padded SET value must not crash the sweep
        val grace = p.getOrElse("autovacuum_grace_ms",
          (10L * 60 * 1000).toString).trim.toLong
        t.expireSnapshots(
          keepLast = p.getOrElse("autovacuum_keep_snapshots", "3")
            .trim.toInt,
          graceMs = grace)
        // the age-based retention policy the reference worker passes
        // into every vacuum (table option > GUC > 1800 s default)
        t.expireSnapshotsByAge(t.effectiveMaxSnapshotAgeSecs, grace)
        refresh(name)
        Some(name)
      }
      } catch {
        // per-table isolation: one broken table (corrupt metadata,
        // bad property) must not leave the rest of the sweep
        // unmaintained — the reference worker wraps each table's
        // vacuum in END_TRANSACTION_NO_THROW(WARNING) and continues
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"maintenance of $name failed: $e")
          None
      }
    }
    }
  }

  /** Crash-recovery half of the [[lake.TxMarker]] multi-table COMMIT
    * protocol. Grace-bounded like the staging sweep — a marker younger
    * than `graft.staging.grace_ms` may belong to a commit in flight.
    */
  private def recoverTxMarkers(name: String, location: String): Unit = {
    val grace = spark.conf.getOption("graft.staging.grace_ms")
      .map(_.trim.toLong).getOrElse(10L * 60 * 1000)
    val now = System.currentTimeMillis()
    lake.TxMarker.list(location).foreach { case (_, path) =>
      try {
        if (now - lake.LakeFs.mtime(path) > grace &&
            activeTx.forall(tx => !path.contains(tx.txId))) {
          val m = lake.TxMarker.read(path)
          if (lake.LakeFs.exists(
              lake.TxMarker.decisionPath(m.coordinator, m.txId))) {
            // the transaction committed — the marker is leftover
            lake.LakeFs.deleteIfExists(path)
          } else {
            val headHash = lake.TxMarker.stateHash(
              lake.TableMetadata.load(m.location))
            if (headHash == m.stagedStateHash) {
              // presumed abort and the aborted install is still the
              // head: compensate exactly like the live failure handler
              val base = lake.TxMarker.baseOf(m)
              if (lake.TxMarker.stateHash(base) != m.baseStateHash)
                throw new IllegalStateException(
                  s"marker base v${m.baseVersion} does not match its " +
                    "recorded state hash — refusing to restore")
              var stagedDisk: lake.TableMetadata = null
              lake.TableMetadata.commit(m.location) { curOpt =>
                val disk = curOpt.getOrElse(
                  throw new IllegalStateException(
                    s"table vanished at ${m.location}"))
                if (lake.TxMarker.stateHash(disk) != m.stagedStateHash)
                  throw new IllegalStateException(
                    s"cannot un-commit $name: a concurrent writer " +
                      "already built on the aborted state")
                stagedDisk = disk
                base
              }
              // cross-engine race: the committer may be ALIVE (slow,
              // not crashed — its marker heartbeats narrow this
              // window but cannot close it) and write its decision
              // right after the absence check above. A decision
              // appearing now means the transaction COMMITTED:
              // re-apply the install this sweep just un-did instead
              // of reaping its files.
              if (lake.LakeFs.exists(
                  lake.TxMarker.decisionPath(m.coordinator, m.txId))) {
                lake.TableMetadata.commit(m.location) { curOpt =>
                  val disk = curOpt.getOrElse(
                    throw new IllegalStateException(
                      s"table vanished at ${m.location}"))
                  if (!lake.TxMarker.sameState(disk,
                      lake.TxMarker.baseOf(m)))
                    throw new IllegalStateException(
                      s"cannot re-apply committed tx ${m.txId} on " +
                        s"$name: the table moved past the un-commit")
                  stagedDisk
                }
                lake.LakeFs.deleteIfExists(path)
                refresh(name)
                txLog.warn(s"tx ${m.txId} committed concurrently " +
                  s"with recovery: re-applied its install on $name")
              } else {
                m.stagedPaths.foreach(p =>
                  try lake.LakeFs.deleteIfExists(p)
                  catch { case scala.util.control.NonFatal(e) =>
                    txLog.warn(s"recovery: could not reap $p", e) })
                lake.LakeFs.deleteIfExists(path)
                refresh(name)
                txLog.warn(s"recovered crashed transaction ${m.txId}: " +
                  s"rolled $name back to its pre-transaction state")
              }
            } else if (headHash == m.baseStateHash) {
              // never installed (or already compensated): the staged
              // files are referenced by nothing
              m.stagedPaths.foreach(p =>
                try lake.LakeFs.deleteIfExists(p)
                catch { case scala.util.control.NonFatal(e) =>
                  txLog.warn(s"recovery: could not reap $p", e) })
              lake.LakeFs.deleteIfExists(path)
            } else {
              // a writer moved the table past the aborted install —
              // un-committing would clobber it (the documented ABA
              // boundary); surface and clear
              txLog.warn(s"tx marker ${m.txId} on $name: the table " +
                "moved past the transaction — cannot un-commit")
              lake.LakeFs.deleteIfExists(path)
            }
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        txLog.warn(s"tx-marker recovery at $path failed", e)
      }
    }
    // orphan decision records (crash between the decision write and
    // the decision deletion): the decision lists every participating
    // table location, so the sweep FINISHES the cleanup — any
    // surviving sibling marker of this committed transaction is
    // removed first, THEN the decision goes. Without that order a
    // marker processed after its decision vanished would presumed-
    // abort a COMMITTED transaction. Swept at 10x the marker grace.
    val meta = lake.TableMetadata.metaDir(location)
    lake.LakeFs.listNames(meta).filter(_.startsWith("txdone-"))
      .foreach { n =>
        val p = lake.LakeFs.child(meta, n)
        try if (now - lake.LakeFs.mtime(p) > 10 * grace) {
          val txId = n.stripPrefix("txdone-")
          new String(lake.LakeFs.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").map(_.trim).filter(_.nonEmpty)
            .foreach { loc =>
              try lake.LakeFs.deleteIfExists(
                lake.TxMarker.markerPath(loc, txId))
              catch { case scala.util.control.NonFatal(e) =>
                txLog.warn(
                  s"decision sweep: could not clear marker at $loc", e)
              }
            }
          lake.LakeFs.deleteIfExists(p)
        } catch { case scala.util.control.NonFatal(e) =>
          txLog.warn(s"decision sweep: could not clear $p", e)
        }
      }
  }

  /** Delete the trees committed transactional DROPs queued — see
    * [[LakeEngine.queueDroppedTree]].
    */
  private def processDroppedQueue(): Unit = {
    val dir = LakeEngine.droppedQueueDir(spark)
    try {
      if (!lake.LakeFs.exists(dir)) return
      lake.LakeFs.listNames(dir).filter(_.startsWith("dropped-"))
        .foreach { n =>
          val p = lake.LakeFs.child(dir, n)
          try {
            val loc = new String(lake.LakeFs.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8).trim
            if (loc.nonEmpty) lake.LakeFs.deleteRecursive(loc)
            lake.LakeFs.deleteIfExists(p)
          } catch { case scala.util.control.NonFatal(e) =>
            txLog.warn(s"dropped-table sweep: could not reap $p", e)
          }
        }
    } catch { case scala.util.control.NonFatal(e) =>
      txLog.warn("dropped-table sweep failed", e)
    }
  }

  /** DROP TABLE: unregister the view + delete per [[LakeTable.drop]]. */
  def dropTable(name: String, purge: Boolean = true): Unit = {
    require(childrenOf(name).isEmpty,
      s"cannot drop table $name because other tables inherit from it")
    tables.remove(name).foreach { t =>
      spark.catalog.dropTempView(name)
      t.drop(purge)
    }
    // a childless range-partitioned parent is virtual: removing the
    // registries and its view IS the drop
    if (partParents.remove(name).isDefined) {
      partChildren.remove(name)
      spark.catalog.dropTempView(name)
    }
    spark.catalog.dropTempView(s"__only_$name")
    // a dropped child leaves its family: detach and refresh ancestors
    inheritsOf.remove(name).foreach { parent =>
      partChildren.get(parent).foreach(kids =>
        partChildren.put(parent, kids.filterNot(_.child == name)))
      refreshFamilyViews(parent)
    }
    domainCols.remove(name)
    colDefaults.remove(name)
  }

  /** RENAME TABLE: pure registry move — the table's location and
    * metadata are untouched (Iceberg rename semantics; the REST
    * catalog's /v1/tables/rename lands here).
    */
  def renameTable(oldName: String, newName: String): Unit = {
    // a transactional rename would need ROLLBACK to restore the old
    // name across every registry below — refuse loudly rather than
    // leave rollback half-applied (the staged-DROP machinery covers
    // the reference's transactional-DDL shapes; rename is not one)
    require(activeTx.isEmpty,
      "ALTER TABLE RENAME inside a transaction block is not supported")
    require(!tables.contains(newName), s"table $newName already exists")
    val t = tables.remove(oldName).getOrElse(
      throw new IllegalArgumentException(s"unknown lake table $oldName"))
    spark.catalog.dropTempView(oldName)
    spark.catalog.dropTempView(s"__only_$oldName")
    // migrate every registry keyed by (or referencing) the old name:
    // inheritance links in both roles, partition-child routing, domain
    // columns, column defaults, matview definitions — a rename must not
    // break family DML or silently drop CHECK/DEFAULT enforcement
    inheritsOf.remove(oldName).foreach(p => inheritsOf.put(newName, p))
    inheritsOf.toSeq.foreach { case (c, p) =>
      if (p == oldName) inheritsOf.put(c, newName)
    }
    partChildren.toSeq.foreach { case (p, kids) =>
      if (kids.exists(_.child == oldName))
        partChildren.put(p, kids.map(rp =>
          if (rp.child == oldName) rp.copy(child = newName) else rp))
    }
    domainCols.remove(oldName).foreach(domainCols.put(newName, _))
    colDefaults.remove(oldName).foreach(colDefaults.put(newName, _))
    matViews.remove(oldName).foreach(matViews.put(newName, _))
    register(newName, t, createdStorage = false)
    // the new name's ancestors (if any) must re-union over it
    inheritsOf.get(newName).foreach(refreshFamilyViews)
    ()
  }

  /** `iceberg_tables`-style catalog view (docs/iceberg-tables.md:545). */
  def tablesDf: DataFrame = {
    import spark.implicits._
    tables.toSeq.map { case (n, t) =>
      val m = t.meta
      (n, t.location, m.currentSnapshotId, m.snapshots.size,
        m.partitionSpec.mkString(", "))
    }.toDF("table_name", "location", "current_snapshot", "n_snapshots",
      "partition_spec")
  }

  // ------------------------------------------- lake foreign tables (M2)

  /** Register a read-only "foreign table" over files: format inferred
    * from the extension unless given; empty schema = inference
    * (reference `CREATE FOREIGN TABLE () SERVER pg_lake`,
    * pg_lake_table/src/describe/describe.c — DESCRIBE-driven inference;
    * Spark's readers infer natively). Wildcards work via Hadoop globs;
    * `filename=true` adds the source-file column
    * (docs/query-data-lake-files.md:84-95).
    *
    * CSV dialect (header/delimiter/quote/escape) is auto-detected when
    * not given, like the reference (docs/file-formats-reference.md:51;
    * options normalized as in csv_options.c); an explicit
    * `columns = "name type, ..."` option (PG type names accepted)
    * fixes the schema without inference, and a headerless file without
    * declared columns surfaces as column0..columnN.
    *
    * `format` also names the table formats (`iceberg` over a
    * metadata.json, `delta` over a table directory), the native geo and
    * spreadsheet readers (`gdal`, picked by extension) and S3 access
    * logs (`log`); [[foreignFrameStaged]] holds the whole decision.
    */
  def createLakeTable(name: String, path: String,
      format: Option[String] = None,
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      filenameColumn: Boolean = false): DataFrame = {
    validateForeignOptions(format, options)
    refuseForeignKeys(format.map(_.toLowerCase).getOrElse(
      inferFormat(sources.HttpSource.pathPart(path))), options)
    format.map(_.toLowerCase).filter(fixedColumnFormats)
      .foreach(f => require(!filenameColumn, fixedColumnsMessage(f)))
    // a declared schema lists `_filename text` explicitly (reference
    // create_table.c ErrorIfInvalidFilenameColumn), but the column is
    // computed, never read from the file
    val readSchema =
      if (filenameColumn) schema.map(filenameReadSchema) else schema
    val (base, staged) = foreignFrameStaged(path, format, options, readSchema)
    val df = if (filenameColumn) {
      // `_filename` carries the URL the user named (test_filename.py
      // asserts string equality with the s3 URL): remote scans map the
      // cache's content-addressed basenames back to their source URLs;
      // local scans strip input_file_name's file: scheme
      val fn =
        if (staged.nonEmpty)
          element_at(typedLit(staged.toMap),
            regexp_extract(input_file_name(), "[^/]+$", 0))
        else regexp_replace(input_file_name(), "^file:/+", "/")
      base.withColumn("_filename", coalesce(fn, input_file_name()))
    } else base
    df.createOrReplaceTempView(name)
    df
  }

  /** DDL-time foreign-table option validation — the reference's FDW
    * validator (pg_lake_table/src/fdw/option.c:230-441,
    * test_csv_options.py): bad options fail at CREATE, before any
    * file is touched, with the reference's exact messages. Booleans
    * follow PG's defGetBoolean (unambiguous prefixes of true/false/
    * on/off, or 0/1 — 'yes' is NOT accepted).
    */
  private[graft] def validateForeignOptions(format: Option[String],
      options: Map[String, String]): Unit = {
    def defBool(opt: String): Unit = options.get(opt).foreach { v =>
      val s = v.trim.toLowerCase
      val ok = s == "0" || s == "1" || (s.nonEmpty && s != "o" &&
        ("true".startsWith(s) || "false".startsWith(s) ||
          "on".startsWith(s) || "off".startsWith(s)))
      require(ok, s"$opt requires a Boolean value")
    }
    defBool("header")
    defBool("null_padding")
    def singleByte(opt: String): Unit = options.get(opt).foreach { v =>
      require(v.getBytes("UTF-8").length == 1,
        s"$opt must be a single one-byte character")
    }
    singleByte("delimiter")
    singleByte("quote")
    singleByte("escape")
    def noEol(opt: String): Unit = options.get(opt).foreach { v =>
      require(!v.contains('\n') && !v.contains('\r'),
        s"$opt cannot be newline or carriage return")
    }
    noEol("delimiter")
    noEol("null")
    options.get("new_line").foreach { v =>
      require(Seq("\\n", "\\r\\n", "\\r").contains(v),
        "new_line must be one of \\n, \\r\\n, or \\r")
    }
    // cross-option checks against the effective (provided-or-default)
    // dialect
    val delim = options.getOrElse("delimiter",
      options.getOrElse("sep", ","))
    val quote = options.getOrElse("quote", "\"")
    options.get("null").foreach { nul =>
      require(!nul.contains(delim),
        "CSV delimiter character must not appear in the NULL specification")
      require(!nul.contains(quote),
        "CSV quote character must not appear in the NULL specification")
    }
    if (options.contains("delimiter") || options.contains("quote"))
      require(delim != quote, "CSV delimiter and quote must be different")
    // csv dialect options demand csv format (option.c:422); `gdal`
    // spreadsheets take `header` too, checked by the gdal dispatch
    val csvOnly = Seq("header", "delimiter", "quote", "escape",
      "new_line", "null", "null_padding")
      .filterNot(_ == "header" && format.exists(_.equalsIgnoreCase("gdal")))
    if (format.exists(f => f.toLowerCase != "csv") &&
        csvOnly.exists(options.contains))
      throw new IllegalArgumentException(
        "\"header\", \"delimiter\", \"quote\", \"escape\", \"new_line\", " +
          "\"null\" and \"null_padding\" options are only supported for " +
          "csv format tables")
  }

  /** Option keys each foreign-table format takes, beyond `columns` (the
    * declared schema, checked by the readers); `gdal` narrows its keys
    * per reader. `inferSchema` is Spark's csv reader key.
    */
  private val foreignKeys: Map[String, Set[String]] = Map(
    "csv" -> Set("header", "delimiter", "sep", "quote", "escape",
      "new_line", "null", "null_padding", "inferschema"),
    "gdal" -> Set("layer", "header"),
    "log" -> Set("log_format"))

  /** An option `fmt` does not take refuses at CREATE, as the
    * reference's FDW validator does, rather than reaching a reader
    * that would ignore it or change behaviour on it.
    */
  private def refuseForeignKeys(fmt: String,
      options: Map[String, String]): Unit = {
    val takes = foreignKeys.getOrElse(fmt, Set.empty[String])
    options.keys.filterNot(k => k == "columns" || takes(k.toLowerCase))
      .foreach(k => throw new IllegalArgumentException(
        s"""invalid option "$k" for format '$fmt'""" +
          (if (takes.isEmpty) ": it takes none"
          else s"; it takes ${takes.toSeq.sorted.mkString(", ")}")))
  }

  /** `lake_file_cache.add/remove` accept exactly one remote object
    * (reference test_caching.py test_invalid_url: local paths and
    * unknown schemes are "URL cannot be cached", globs are
    * "cannot cache paths with wildcard").
    */
  private def validateCacheableUrl(url: String): Unit = {
    require(!url.exists(c => c == '*' || c == '[' || c == ']'),
      s"cannot cache paths with wildcard: $url")
    require(url.matches("^(https?|hf|s3a?|gs|r2|az|azure|abfss?)://.*"),
      s"URL cannot be cached: $url")
  }

  /** Validate a declared schema under `filename 'true'` and return the
    * file-read part (everything but `_filename`). Messages follow the
    * reference (create_table.c:509-556): the column must exist and be
    * text.
    */
  private def filenameReadSchema(s: StructType): StructType = {
    val f = s.fields.find(_.name == "_filename").getOrElse(
      throw new IllegalArgumentException("no _filename column found: " +
        "when using the filename option, the last column must be " +
        "_filename text"))
    require(f.dataType == org.apache.spark.sql.types.StringType,
      "_filename column must have type text")
    // position matters, not just presence (reference
    // ErrorIfInvalidFilenameColumn): position-mapped formats (CSV)
    // read the remaining columns by file order — a mid-list
    // _filename would silently shift every column after it
    require(s.fields.last.name == "_filename",
      "when using the filename option, the last column must be " +
        "_filename text")
    StructType(s.fields.filterNot(_.name == "_filename"))
  }

  /** A source's frame plus, for remote sources, the staged-basename →
    * original-URL pairs [[createLakeTable]]'s `_filename` column needs.
    * The one place that picks a source's reader.
    */
  private def foreignFrameStaged(pathIn: String, format: Option[String],
      options: Map[String, String],
      schema: Option[StructType]): (DataFrame, Seq[(String, String)]) = {
    // @STAGE/ resolves before anything else — scheme detection,
    // staging, format inference (reference resolution-order test)
    val path0 = resolveStage(pathIn)
    val fmtOpt = format.map(_.toLowerCase)
    // gdal and log readers fix their own columns and read the path
    // through Hadoop as given
    fmtOpt.filter(fixedColumnFormats).foreach(f => require(
      schema.isEmpty && !options.contains("columns"), fixedColumnsMessage(f)))
    if (fmtOpt.contains("gdal")) return (gdalFrame(path0, options), Nil)
    if (fmtOpt.contains("log")) return (s3LogFrame(path0, options), Nil)
    // remote URLs (http/hf/s3/gcs/r2/azure, incl. wildcards) stage
    // through the content-addressed cache first — s3://gs://r2:// add
    // bucket-region routing + SigV4, az://abfss:// add SAS-token auth
    val remote =
      path0.matches("^(https?|hf|s3a?|gs|r2|az|azure|abfss?)://.*")
    // table-format sources (reference test_iceberg_copy.py /
    // test_delta_copy.py: definition_from/load_from/COPY accept an
    // Iceberg metadata.json or a Delta table dir): route through the
    // snapshot readers — the JSON reader would otherwise "succeed" on
    // a metadata.json and hand back metadata rows as data. Explicit
    // `format` wins; otherwise detect by the metadata.json suffix /
    // a _delta_log dir. Multi-file table metadata cannot stage
    // through the single-file cache, so remote URLs refuse loudly.
    val icebergSrc = fmtOpt.contains("iceberg") ||
      (fmtOpt.isEmpty && icebergName(sources.HttpSource.pathPart(path0)))
    val deltaSrc = fmtOpt.contains("delta") ||
      (fmtOpt.isEmpty && !remote &&
        Files.isDirectory(Paths.get(path0, "_delta_log")))
    if (icebergSrc || deltaSrc) {
      require(!remote, s"$path0: iceberg/delta sources are multi-file " +
        "table metadata — point at a local/Hadoop-reachable path")
      val base =
        if (icebergSrc) sources.IcebergSnapshot.read(spark, path0)
        else sources.DeltaSnapshot.read(spark, path0)
      return (schema.map(s => base.select(s.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)).getOrElse(base),
        Seq.empty)
    }
    val (path, staged) =
      if (remote) sources.HttpSource.stageAllMapped(path0)
      else (path0, Seq.empty[(String, String)])
    val fmt = format.getOrElse(inferFormat(
      if (remote) sources.HttpSource.pathPart(path0) else path))
    val declared = schema.orElse(options.get("columns").map(parseColumns))
    var reader = spark.read.options(options - "columns")
    declared.foreach(s => reader = reader.schema(s))
    val frame = fmt match {
      case "parquet" => reader.parquet(path)
      case "csv" =>
        val dialectKeys = Seq("header", "delimiter", "sep", "quote", "escape")
        val sniffed =
          if (dialectKeys.forall(options.contains)) None
          else Some(sources.CsvSniffer.sniff(path,
            spark.sparkContext.hadoopConfiguration))
        // PG boolean spellings ('t', 'off', '1', ...) normalize to
        // Spark's true/false before reaching the reader
        def pgBoolNorm(v: String): String = {
          val s = v.trim.toLowerCase
          val t = s == "1" || (s.nonEmpty && ("true".startsWith(s) ||
            "on".startsWith(s) && s != "o"))
          t.toString
        }
        val header = options.get("header").map(pgBoolNorm).getOrElse(
          sniffed.map(_.header.toString).getOrElse("true"))
        var rdr = reader
          .option("header", header)
          .option("sep", options.getOrElse("delimiter",
            options.getOrElse("sep", sniffed.map(_.delimiter).getOrElse(","))))
          .option("quote", options.getOrElse("quote",
            sniffed.map(_.quote).getOrElse("\"")))
          .option("escape", options.getOrElse("escape",
            sniffed.map(_.escape).getOrElse("\"")))
          .option("inferSchema", options.getOrElse("inferSchema",
            declared.isEmpty.toString))
        // the reference's PG-spelled csv dialect options map onto
        // Spark's reader names (option.c `null` / `new_line`)
        options.get("null").foreach(v => rdr = rdr.option("nullValue", v))
        options.get("new_line").foreach(v => rdr = rdr.option("lineSep",
          v.replace("\\r", "\r").replace("\\n", "\n")))
        val df0 = rdr.csv(path)
        // headerless + undeclared: stable generated names, the
        // column0..columnN surface the reference exposes
        if (header == "false" && declared.isEmpty)
          df0.toDF(df0.columns.indices.map(i => s"column$i"): _*)
        else df0
      case "json" => reader.json(path)
      case other =>
        throw new IllegalArgumentException(s"unsupported format $other")
    }
    (frame, staged)
  }

  /** The `.metadata.json` / bare `metadata.json` CONVENTION only — a
    * data file named e.g. sales_metadata.json stays a JSON source.
    */
  private def icebergName(p: String): Boolean = {
    val f = p.substring(p.lastIndexOf('/') + 1)
    f == "metadata.json" || f.endsWith(".metadata.json")
  }

  private val fixedColumnFormats = Set("gdal", "log")

  private def fixedColumnsMessage(fmt: String): String =
    s"format '$fmt' tables have fixed columns: a declared schema, the " +
      "columns option and filename 'true' are not supported"

  /** A `format 'gdal'` reader, the extensions it claims and the
    * options beyond the path that it takes.
    */
  private case class Gdal(name: String, exts: Seq[String],
      read: (String, Map[String, String]) => DataFrame,
      takes: Set[String] = Set.empty)

  /** `format 'gdal'` readers by file extension. The reference reads
    * these formats through GDAL (docs/file-formats-reference.md:96-140);
    * each one here is a native reader.
    */
  private lazy val gdalReaders: Seq[Gdal] = {
    def plain(read: (SparkSession, String) => DataFrame) =
      (p: String, _: Map[String, String]) => read(spark, p)
    def header(o: Map[String, String]): Boolean =
      o.get("header").forall(lake.LakeTable.pgBool(_, "header"))
    val sheet = Set("layer", "header")
    Seq(
      // RFC 7946 features with a properties map (sources.GeoJson)
      Gdal("GeoJSON", Seq(".geojson", ".json"), plain(sources.GeoJson.read)),
      // newline-delimited, line-splittable features (GeoJson.readSeq)
      Gdal("GeoJSONSeq", Seq(".geojsons", ".geojsonl"),
        plain(sources.GeoJson.readSeq)),
      // bare or zipped, dBase attributes (sources.Shapefile)
      Gdal("Shapefile", Seq(".shp", ".zip"), plain(sources.Shapefile.read)),
      // SQLite b-tree walk, `layer` names a table (sources.GeoPackage)
      Gdal("GeoPackage", Seq(".gpkg"),
        (p, o) => sources.GeoPackage.read(spark, p, o.get("layer")),
        Set("layer")),
      // OGC KML 2.2 Placemarks (sources.GeoXml)
      Gdal("KML", Seq(".kml", ".kmz"), plain(sources.GeoXml.readKml)),
      // OGC GML 2/3 simple features (sources.GeoXml)
      Gdal("GML", Seq(".gml"), plain(sources.GeoXml.readGml)),
      // spatial index skipped (sources.FlatGeobuf)
      Gdal("FlatGeobuf", Seq(".fgb"), plain(sources.FlatGeobuf.read)),
      // SpreadsheetML, `layer 'Sheet 1'` names a tab (sources.Xlsx)
      Gdal("XLSX", Seq(".xlsx"),
        (p, o) => sources.Xlsx.read(spark, p, header(o), o.get("layer")),
        sheet),
      // CFB + BIFF8, BIFF5 and earlier refused (sources.Xls)
      Gdal("XLS", Seq(".xls"),
        (p, o) => sources.Xls.read(spark, p, header(o), o.get("layer")),
        sheet),
      // AutoCAD ASCII group codes, binary DXF refused (sources.Dxf)
      Gdal("DXF", Seq(".dxf"), plain(sources.Dxf.read)),
      // MapInfo MIF with sibling .mid attributes (sources.Mif)
      Gdal("MIF", Seq(".mif", ".mit"), plain(sources.Mif.read)),
      // elevation/roughness contour lines (sources.WaspMap)
      Gdal("WAsP", Seq(".map"), plain(sources.WaspMap.read)),
      // road reference lines sampled every 1 m (sources.OpenDrive)
      Gdal("OpenDRIVE", Seq(".xodr"),
        (p, _) => sources.OpenDrive.read(spark, p)))
  }

  /** `format 'gdal'`: the reader comes from the path's extension (`.gz`
    * stripped), or for a directory from its files' extensions, which
    * must all belong to one reader. Proprietary-undocumented formats
    * (.gdb, .tab, .dwg) refuse with the conversion hint; unknown
    * extensions refuse rather than guess.
    */
  private def gdalFrame(path: String,
      options: Map[String, String]): DataFrame = {
    def readerOf(p: String): Option[Gdal] = {
      val f = p.toLowerCase.stripSuffix(".gz")
      if (Seq(".gdb", ".tab", ".dwg").exists(f.endsWith))
        throw new IllegalArgumentException(
          s"'$p': .gdb/.tab/.dwg are proprietary binary formats " +
            "with no public spec - convert to GeoPackage/MIF/DXF first")
      gdalReaders.find(_.exts.exists(f.endsWith))
    }
    val reader = readerOf(path).getOrElse {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val inDir =
        if (!fs.isDirectory(hPath)) Nil
        else fs.listStatus(hPath).toSeq.filter(_.isFile)
          .flatMap(st => readerOf(st.getPath.getName)).distinct
      inDir match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"cannot infer a GDAL-table format from '$path'")
        case many => throw new IllegalArgumentException(
          s"'$path' holds files of several GDAL formats " +
            s"(${many.map(_.name).mkString(", ")}) - point at one of them")
      }
    }
    Seq("layer", "header").filterNot(reader.takes).foreach(o => require(
      !options.contains(o), s"${reader.name} does not take a '$o' option"))
    reader.read(path, options)
  }

  /** `format 'log', log_format 's3'` (docs/file-formats-reference.md:
    * 141-150): templated regex parse of S3 access logs over a
    * distributed text scan. Unparseable lines surface with NULL fields
    * rather than failing the scan.
    */
  private def s3LogFrame(path: String,
      options: Map[String, String]): DataFrame = {
    val logFormat = options.getOrElse("log_format", "s3")
    require(logFormat == "s3", s"unsupported log_format $logFormat")
    require(!options.contains("layer"), "log does not take a 'layer' option")
    // bucket_owner bucket [time] remote_ip requester request_id operation
    // key "request_uri" http_status error_code bytes_sent object_size
    // total_time turn_around_time "referrer" "user_agent"
    val pat =
      """^(\S+) (\S+) \[([^\]]+)\] (\S+) (\S+) (\S+) (\S+) (\S+) "([^"]*)" (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) "([^"]*)" "([^"]*)"""
    val fields = Seq("bucket_owner", "bucket", "time", "remote_ip",
      "requester", "request_id", "operation", "key", "request_uri",
      "http_status", "error_code", "bytes_sent", "object_size",
      "total_time", "turn_around_time", "referrer", "user_agent")
    val raw = spark.read.text(path)
    fields.zipWithIndex.foldLeft(raw) { case (df, (f, i)) =>
      df.withColumn(f,
        when(regexp_extract(col("value"), pat, i + 1) === "", lit(null))
          .otherwise(regexp_extract(col("value"), pat, i + 1)))
    }.drop("value")
      .withColumn("http_status", col("http_status").cast("int"))
      .withColumn("bytes_sent",
        when(col("bytes_sent") === "-", lit(null))
          .otherwise(col("bytes_sent")).cast("long"))
      .withColumn("object_size",
        when(col("object_size") === "-", lit(null))
          .otherwise(col("object_size")).cast("long"))
  }

  /** `columns = "a int4, b text, ..."` → StructType (PG names map to
    * the SURVEY §1.2 storage conventions).
    */
  private def parseColumns(spec: String): StructType = {
    val fields = listItems(spec).map { c =>
      val Array(n, t) = c.split("\\s+", 2)
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DataType.fromDDL(pgTypeName(t)))
    }
    StructType(fields)
  }

  private def pgTypeName(t: String): String = t.trim.toLowerCase match {
    case "text" | "varchar" | "char" | "bpchar" | "name" => "string"
    case "int2" | "smallint" => "smallint"
    case "int4" | "int" | "integer" => "int"
    case "int8" | "bigint" => "bigint"
    case "float4" | "real" => "float"
    case "float8" | "double precision" => "double"
    case "bool" | "boolean" => "boolean"
    case "timestamp" | "timestamp without time zone" => "timestamp_ntz"
    case "timestamptz" | "timestamp with time zone" => "timestamp"
    // SURVEY §1.2 storage conventions for PG types Spark lacks:
    // time/timetz → micros-of-day BIGINT; uuid → canonical string;
    // json/jsonb → string + JSON functions; bytea → binary
    case "time" | "time without time zone" | "timetz" |
         "time with time zone" => "bigint"
    case "uuid" | "json" | "jsonb" => "string"
    case "bytea" => "binary"
    // unbounded numeric and precision > 38 store as DOUBLE (the
    // reference's unsupported-numeric-as-double default,
    // test_special_numeric.py / test_unbounded_numeric.py — DOUBLE
    // accepts the NaN/±Inf values PG numerics can carry)
    case "numeric" | "decimal" => "double"
    case s if s.startsWith("numeric") || s.startsWith("decimal") =>
      val w = "\\((\\d+)\\s*(?:,\\s*(\\d+))?\\)".r.findFirstMatchIn(s)
      w match {
        case Some(g) if g.group(1).toInt > 38 => "double"
        case _ => s.replace("numeric", "decimal")
      }
    case other => other // already Spark DDL
  }

  /** Schema-inference DDL for MANAGED tables — the reference's
    * `create table t () using iceberg with (definition_from/load_from =
    * url)` (pg_lake_table/src/ddl/create_table.c:91,
    * describe/describe.c:327): infer a typed schema from the file
    * (parquet footer / CSV sniff / JSON sample), create the
    * transactional table, and with `load = true` also load the file's
    * rows in the same command.
    */
  def createTableFrom(name: String, location: String, url: String,
      load: Boolean = true, format: Option[String] = None,
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): LakeTable = {
    val src = foreignFrameStaged(url, format, options, None)._1
    if (load) createTableAsSelect(name, location, src, partitionBy)
    else createTable(name, location, src.schema, partitionBy)
  }

  /** Export a managed table's current snapshot as Iceberg v2 metadata;
    * returns the metadata.json path (readable by external tooling and
    * by [[createLakeTable]] with `format 'iceberg'`).
    */
  def exportIceberg(tableName: String): String =
    graft.lake.IcebergExport.export(table(tableName))

  /** Object-store Iceberg catalog listing (the reference's
    * `iceberg_tables` view + object_store_catalog export,
    * object_store_catalog.c:30-45): every registered managed table with
    * its current exported metadata.json. `export = true` (re)exports
    * each table first, so the listing always points at the current
    * snapshot; otherwise stale/missing exports surface as null
    * metadata_location.
    */
  def icebergTables(export: Boolean = false): DataFrame = {
    import spark.implicits._
    tables.toSeq.sortBy(_._1).map { case (n, t) =>
      val metaLoc =
        if (export) Some(graft.lake.IcebergExport.export(t))
        else graft.lake.IcebergExport.currentMetadata(t.location)
      (n, t.location, metaLoc.orNull)
    }.toDF("table_name", "location", "metadata_location")
  }

  /** `lake_file.list('glob')` equivalent. Local/Hadoop-reachable
    * filesystems go through globStatus; object-store URLs (s3://,
    * gs://, r2://, az://, abfss://, hf://) expand through the
    * sources' own list APIs (the reference's test_list_file.py lists
    * az:// the same way), which carry per-object sizes (S3 `<Size>`,
    * Azure `<Content-Length>`; hf reports -1). Remote mtimes report 0
    * — fetching per-blob metadata would be a round trip per file.
    */
  /** `@STAGE/` prefix resolution (reference ResolveStageURL,
    * copy_format.c:459): a path starting with `@STAGE/`
    * (case-insensitive, slash required, start-of-string only)
    * resolves against the `pg_lake.stage_location` GUC; unset GUC is
    * a loud error with the reference's hint. Anything else passes
    * through untouched (`@STAGEx`, `s3://b/@STAGE/...`).
    */
  private def resolveStage(path: String): String = {
    val prefix = "@STAGE/"
    if (path == null ||
      !path.regionMatches(true, 0, prefix, 0, prefix.length)) path
    else {
      val base = settings.get("pg_lake.stage_location").getOrElse(
        throw new IllegalArgumentException(
          "@STAGE/ URL prefix used but pg_lake.stage_location is not " +
            "configured. Set pg_lake.stage_location to your bucket URL " +
            "(e.g., SET pg_lake.stage_location TO 's3://my-bucket/prefix')"))
      base.stripSuffix("/") + "/" + path.substring(prefix.length)
    }
  }

  /** `lake_file.size(path)` (reference pg_lake_file_size): the true
    * byte size of one object/file; `@STAGE/` resolves first. Missing
    * files error loudly.
    */
  def fileSize(url0: String): Long = {
    val url = resolveStage(url0)
    if (url.matches("^(s3a?|gs|r2|az|azure|abfss?)://.*")) {
      val hits = sources.HttpSource.list(url)
      val size = hits.collectFirst { case (u, s) if u == url => s }
        .getOrElse(throw new IllegalArgumentException(
          s"no such file: $url"))
      require(size >= 0, s"size unknown for $url")
      size
    } else {
      val p = new org.apache.hadoop.fs.Path(url)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getFileStatus(p).getLen
    }
  }

  /** `lake_file.exists(path)` (reference pg_lake_file_exists). */
  def fileExists(url0: String): Boolean = {
    val url = resolveStage(url0)
    if (url.matches("^(s3a?|gs|r2|az|azure|abfss?)://.*"))
      sources.HttpSource.list(url).exists(_._1 == url)
    else {
      val p = new org.apache.hadoop.fs.Path(url)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p)
    }
  }

  def listFiles(glob0: String): DataFrame = {
    import spark.implicits._
    val glob = resolveStage(glob0)
    if (glob.matches("^(hf|s3a?|gs|r2|az|azure|abfss?)://.*"))
      sources.HttpSource.list(glob).map { case (u, size) => (u, size, 0L) }
        .toDF("path", "size_bytes", "modified_ms")
    else {
      val path = new org.apache.hadoop.fs.Path(glob)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val statuses = Option(fs.globStatus(path)).getOrElse(Array.empty)
      statuses.map(st => (st.getPath.toString, st.getLen,
        st.getModificationTime)).toSeq
        .toDF("path", "size_bytes", "modified_ms")
    }
  }

  /** `lake_file.preview(url [, format])` (reference
    * pg_lake_table/tests/pytests/test_file_preview.py): one
    * (column_name, column_type) row per column the file would produce
    * if a table were created from it — parquet footer / CSV sniff+infer
    * / JSON sample, wildcards included. Types are reported in PG
    * spelling, the same contract `columns = {}` accepts on the way in.
    * Nested structs get a deterministic generated type name like the
    * reference's `lake_struct.<fields>_<hash>`.
    */
  def preview(url0: String, format: Option[String] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val url = resolveStage(url0)
    val scheme = "^([a-zA-Z][a-zA-Z0-9+.-]*)://.*".r
    url match {
      case scheme(s) if !Set("http", "https", "hf", "s3", "s3a", "file",
          "gs", "r2", "az", "azure", "abfs", "abfss")
          .contains(s.toLowerCase) =>
        throw new IllegalArgumentException(s"unsupported URL scheme $s://")
      case _ => ()
    }
    format.foreach { f =>
      if (!Set("parquet", "csv", "json").contains(f.toLowerCase))
        throw new IllegalArgumentException(s"format '$f' is not recognized")
    }
    val df = foreignFrameStaged(url, format, options, None)._1
    df.schema.fields.map(f => (f.name, LakeEngine.pgTypeOf(f.dataType)))
      .toSeq.toDF("column_name", "column_type")
  }

  private def inferFormat(path: String): String = {
    val p = path.toLowerCase.stripSuffix(".gz").stripSuffix(".zst")
      .stripSuffix(".gzip").stripSuffix(".snappy")
    if (p.endsWith(".parquet") || p.endsWith(".pq")) "parquet"
    else if (p.endsWith(".csv") || p.endsWith(".tsv")) "csv"
    else if (p.endsWith(".json") || p.endsWith(".jsonl") ||
      p.endsWith(".ndjson")) "json"
    else "parquet" // directories of data files default to parquet
  }

  // --------------------------------------------------- COPY surface (M5)

  /** `COPY (query) TO 'url'` (pg_lake_copy/src/copy/copy.c):
    * format + compression inferred from the target name.
    */
  def copyTo(df: DataFrame, url0: String,
      options: Map[String, String] = Map.empty): Unit = {
    val url = resolveStage(url0)
    // table formats are read-only through COPY (reference
    // test_iceberg_copy.py / test_delta_copy.py pin both messages;
    // an un-formatted COPY TO a metadata.json is the iceberg case)
    options.get("format").map(_.toLowerCase) match {
      case Some("iceberg") => throw new IllegalArgumentException(
        "COPY TO in Iceberg format is not supported")
      case Some("delta") => throw new IllegalArgumentException(
        "COPY TO in Delta format is not supported")
      case None if icebergName(sources.HttpSource.pathPart(url)) =>
        throw new IllegalArgumentException(
          "COPY TO in Iceberg format is not supported")
      case _ => ()
    }
    // WITH (format …, compression …) override the URL's extension
    val fmt = options.get("format").map(_.toLowerCase)
      .getOrElse(inferFormat(url))
    val codec = options.get("compression").map(_.toLowerCase) match {
      case Some("none") => None // explicit override beats the extension
      case Some(c) => Some(c)
      case None => compressionOf(url)
    }
    // `directory 'true'` (beyond-ref COPY option): the big-export
    // split — df.write lands STRAIGHT at the target as a directory of
    // parts, every executor shipping its own file; no coalesce(1), no
    // staging hop, no one-machine funnel. PG COPY's single-file shape
    // stays the default. An object-store target takes this path
    // through the cluster's Hadoop connector for the scheme (s3
    // spells s3a there); the native signed-PUT path below backs only
    // the single-object shape.
    val asDirectory = options.get("directory")
      .exists(v => lake.LakeTable.pgBool(v, "directory"))
    if (asDirectory) {
      // az:// lacks the account a Hadoop connector URL needs and
      // r2:// has no Hadoop connector at all — refuse loudly rather
      // than surface Hadoop's opaque "No FileSystem for scheme";
      // their single-object shape (native SAS/SigV4 PUT) still works
      if (url.matches("^(az|azure|r2)://.*"))
        throw new IllegalArgumentException(
          "COPY ... WITH (directory 'true') needs a Hadoop-connector " +
            s"URL; spell the target as abfss:// (Azure) or via an " +
            s"S3-dialect endpoint instead of: $url")
      val hadoopUrl =
        if (url.startsWith("s3://")) "s3a://" + url.stripPrefix("s3://")
        else url
      writeLocal(df, hadoopUrl, fmt, codec, options)
    } else if (url.matches("^(s3a?|gs|r2|az|azure|abfss?)://.*")) {
      // COPY TO an object store (reference test_s3_copy / test_gcs_copy
      // / test_r2_copy): PG COPY produces ONE file at the key, so the
      // frame coalesces to a single part staged on the CLUSTER
      // filesystem (graft.staging.dir) and streamed out via the
      // store's authenticated PUT — never a driver-local temp hop, so
      // the executor that wrote the part and the driver that uploads
      // it see the same bytes on a real cluster
      val stage = LakeEngine.stagingLocation(spark, "copyto")
      try {
        writeLocal(df.coalesce(1), lake.LakeFs.child(stage, "out"), fmt,
          codec, options)
        val part = lake.LakeFs.listFilesRecursive(stage)
          .filter { case (p, _) =>
            p.substring(p.lastIndexOf('/') + 1).startsWith("part-")
          } match {
          case Seq(one) => one
          case many => throw new IllegalStateException(
            s"expected one part file, found ${many.size}")
        }
        sources.HttpSource.upload(url, part._2,
          () => lake.LakeFs.open(part._1))
      } finally lake.LakeFs.deleteRecursive(stage)
    } else writeLocal(df, url, fmt, codec, options)
  }

  private def writeLocal(df: DataFrame, path: String, fmt: String,
      codec: Option[String], options: Map[String, String]): Unit = {
    var w = df.write.mode(options.getOrElse("mode", "overwrite"))
      .options(lake.NioLocalFileSystem.writerOptions)
      .options(options - "mode" - "format" - "compression" - "directory")
    codec.foreach(c => w = w.option("compression", c))
    fmt match {
      case "parquet" => w.parquet(path)
      case "csv" => w
        .option("header", options.getOrElse("header", "true"))
        // PG COPY csv conventions (reference csv_writer.c follows
        // PostgreSQL): embedded quotes escape by DOUBLING the quote
        // char, not backslash (Spark's default); null → empty field,
        // empty string → quoted ""
        .option("quote", options.getOrElse("quote", "\""))
        .option("escape", options.getOrElse("escape",
          options.getOrElse("quote", "\"")))
        .option("nullValue", options.getOrElse("nullValue", ""))
        .option("emptyValue", options.getOrElse("emptyValue", "\"\""))
        .csv(path)
      case "json" => w.json(path)
    }
  }

  /** `COPY table FROM 'url'` — append files into a managed table. The
    * row count rides the append's write job as an observed metric, so
    * the source is scanned once, not count()+append.
    */
  def copyFrom(tableName: String, url0: String,
      options: Map[String, String] = Map.empty,
      columns: Option[Seq[String]] = None): Long = {
    val url = resolveStage(url0)
    val t = table(tableName)
    val full = t.meta.sparkSchema.fields.toSeq
    // PG column-subset COPY: the file carries ONLY those columns (in
    // list order); the rest fill from declared/domain DEFAULTs
    val readSchema =
      StructType(columns.fold(full)(listedFields(tableName, full, _)))
    // an explicit compression that the file extension doesn't reveal:
    // stage a correctly-suffixed symlink so the reader's codec
    // detection sees it (Spark infers CSV codecs from the extension)
    val readUrl = options.get("compression") match {
      case Some(c @ ("gzip" | "zstd")) if compressionOf(url).isEmpty &&
          !url.contains("://") && !url.contains("*") &&
          Files.isRegularFile(Paths.get(url)) =>
        // local single file only: remote URLs and globs keep their own
        // staging path (their readers detect codecs from real names)
        val suffix = if (c == "gzip") ".gz" else ".zst"
        val link = Files.createTempDirectory("copyfrom")
          .resolve(Paths.get(url).getFileName.toString + suffix)
        Files.createSymbolicLink(link, Paths.get(url).toAbsolutePath)
        link.toString
      case _ => url
    }
    val readOptions = options - "compression"
    validateForeignOptions(options.get("format"), readOptions)
    val src0 = foreignFrameStaged(readUrl, options.get("format"),
      readOptions, Some(readSchema))._1
    val src = columns.fold(src0)(cs =>
      alignToTable(tableName, full, src0, Some(cs)))
    val checked = applyDomainChecks(tableName, src)
    val obs = new org.apache.spark.sql.Observation()
    t.append(checked.observe(obs, count(lit(1)).as("n")))
    refresh(tableName)
    obs.get.get("n").flatMap(Option(_)).map(_.asInstanceOf[Long])
      .getOrElse(0L)
  }

  private def compressionOf(url: String): Option[String] = {
    val u = url.toLowerCase
    if (u.endsWith(".gz") || u.endsWith(".gzip")) Some("gzip")
    else if (u.endsWith(".zst")) Some("zstd")
    else if (u.endsWith(".snappy")) Some("snappy")
    else None
  }

  /** SQL entry point. SELECTs are planned by [[QueryDef.pgPlan]]
    * (registered lake tables resolve through their pruning
    * FileIndex); DML statements against managed tables are routed to
    * the transactional write path — the same split the reference makes
    * between pushdown SELECTs and its FDW modify path. Returns the
    * DML row count as a 1-row frame for writes.
    */
  def sql(q: String): DataFrame = route(QueryDef.pgRewrite(q).trim)

  /** Routes one statement that has been through [[QueryDef.pgRewrite]].
    * The dialect chain runs on the WHOLE statement before routing because
    * the statement regexes need Spark-parsable text, and so do the
    * UPDATE/DELETE clauses that become columns; every SELECT piece is
    * then planned with [[QueryDef.pgPlan]], never rewritten again, and
    * every frame a write filters or projects by those columns gets the
    * same [[graft.plans.NullAwareIn]] fix-up. EXECUTE and EXPLAIN
    * ANALYZE re-enter here with text assembled from rewritten parts.
    */
  private def route(trimmed: String): DataFrame = {
    import spark.implicits._
    // DML carries an optional PG RETURNING list (the reference's
    // write tests use it throughout, e.g.
    // pg_lake_table/tests/pytests/test_writable_table_update.py).
    // The clause is split off TOKEN-WISE before the regexes run, so a
    // string literal containing the word "returning" (DELETE ... WHERE
    // msg LIKE '%not returning%') never splits the statement: it is
    // the first depth-0 RETURNING keyword token (never one inside a
    // string literal or parenthesized subquery)
    val isDml = dmlRe.pattern.matcher(trimmed).matches()
    val (dmlText0, retClause): (String, Option[String]) =
      if (!isDml) (trimmed, None) else splitReturning(trimmed)
    // PG `ONLY` on DML targets: act on the named table alone, without
    // family propagation (SELECT-side ONLY maps to __only_ views in
    // plans/OnlyRewrite)
    val (dmlText, onlyDml) = dmlText0 match {
      case onlyDmlRe(head, rest) =>
        (wsRe.replaceAllIn(head, " ") + " " +
          plans.OnlyRewrite.rewrite(rest), true)
      case _ => (plans.OnlyRewrite.rewrite(dmlText0), false)
    }
    // BEGIN READ ONLY: PG refuses write statements with this message
    // (transaction-control statements themselves stay allowed)
    if (activeTx.exists(_.readOnly)) {
      if (writeRe.pattern.matcher(dmlText).matches()) {
        val verb = wsRe.pattern.split(dmlText, 2)(0).toUpperCase
        throw new IllegalStateException(
          s"cannot execute $verb in a read-only transaction")
      }
    }
    // PG's "before any query" guard counts query/data-modification
    // statements (SELECT, INSERT, UPDATE, DELETE, COPY, and EXECUTE of
    // those) — transaction control and SET/SHOW do not. Flag set
    // BEFORE execution: PG's guard trips even when the first query
    // errors.
    activeTx.foreach { tx =>
      if (queryStmtRe.pattern.matcher(dmlText).matches()) {
        // the RR/SERIALIZABLE snapshot moment is the transaction's
        // FIRST query statement (PG semantics) — taken HERE, because
        // a read served by a registered view never touches the
        // overlay, so an sql-only transaction would otherwise pin
        // lazily at some later table access
        if (tx.repeatableRead) pinAllTables(tx)
        // SERIALIZABLE read tracking: a view-served read never calls
        // baseMeta, so the tables this statement references are
        // marked touched here — the commit-time write-skew check
        // covers sql reads too
        if (tx.serializable) referencedTables(dmlText).foreach(n =>
          tx.overlays.get(n).foreach(_.touched = true))
        tx.queryRun = true
      }
    }
    // cross-process READ COMMITTED freshness: views of referenced
    // tables re-register when another engine moved them (PG foreign
    // scans re-read metadata per statement). AFTER the pin: an RR
    // refresh rebuilds the view from the pinned snapshot.
    refreshStaleViews(dmlText)
    dmlText match {
      case beginRe(isoOrNull, rwOrNull) =>
        // READ COMMITTED (and PG's READ UNCOMMITTED alias) = the
        // default staged-overlay behavior; REPEATABLE READ pins every
        // table's committed snapshot at the transaction's ONE snapshot
        // moment; SERIALIZABLE = that + the commit-time CAS on written
        // tables + the read-pin re-check at COMMIT (write skew)
        val iso = Option(isoOrNull)
          .map(wsRe.replaceAllIn(_, " ").toUpperCase)
        begin(readOnly = Option(rwOrNull).exists(_.equalsIgnoreCase("ONLY")),
          repeatableRead = iso.contains("REPEATABLE READ"),
          serializable = iso.contains("SERIALIZABLE"))
        Seq("BEGIN").toDF("status")
      case setTxIsoRe(iso) =>
        val level = wsRe.replaceAllIn(iso, " ").toUpperCase
        setTxIsolation(level == "REPEATABLE READ",
          level == "SERIALIZABLE")
        Seq(level).toDF("isolation_level")
      case setTxAccessRe(mode) =>
        // PG allows tightening/loosening the access mode mid-block;
        // loosening READ ONLY → READ WRITE only before the first query
        // (we mirror the isolation guard for that direction)
        val tx = activeTx.getOrElse(throw new IllegalStateException(
          "SET TRANSACTION can only be used in transaction blocks"))
        val ro = mode.equalsIgnoreCase("ONLY")
        if (!ro && tx.readOnly)
          require(!tx.queryRun && tx.overlays.values.forall(ov =>
              ov.staged.isEmpty && ov.pinned.isEmpty) &&
              tx.dropped.isEmpty && tx.restStaged.isEmpty,
            "SET TRANSACTION READ WRITE must be called before any query")
        tx.readOnly = ro
        Seq(if (ro) "READ ONLY" else "READ WRITE").toDF("access_mode")
      case commitTxRe(chainOrNull) =>
        // AND CHAIN preserves the transaction characteristics (PG
        // §SQL-COMMIT: "the new transaction is started with the same
        // transaction characteristics")
        val chain = activeTx.map(t =>
          (t.readOnly, t.repeatableRead && !t.serializable,
            t.serializable))
        commitTx()
        if (chainOrNull != null)
          chain.foreach { case (ro, rr, ser) => begin(ro, rr, ser) }
        Seq("COMMIT").toDF("status")
      // ROLLBACK TO must match before the bare ROLLBACK
      case rollbackToRe(name) =>
        rollbackToSavepoint(name); Seq(name).toDF("rollback_to")
      case rollbackTxRe(chainOrNull) =>
        val chain = activeTx.map(t =>
          (t.readOnly, t.repeatableRead && !t.serializable,
            t.serializable))
        rollbackTx()
        if (chainOrNull != null)
          chain.foreach { case (ro, rr, ser) => begin(ro, rr, ser) }
        Seq("ROLLBACK").toDF("status")
      case savepointRe(name) =>
        savepoint(name); Seq(name).toDF("savepoint")
      case releaseRe(name) =>
        releaseSavepoint(name); Seq(name).toDF("released")
      case explainRe(optsOrNull, rest) =>
        val opts = Option(optsOrNull).map(_.toLowerCase).getOrElse("")
        var body = rest.trim
        var analyze = opts.contains("analyze")
        var verbose = opts.contains("verbose")
        // PG's pre-9.0 spelling: bare ANALYZE / VERBOSE keywords
        var stripping = true
        while (stripping) {
          val h = wsRe.pattern.split(body, 2)
          if (h.length == 2 && h(0).equalsIgnoreCase("ANALYZE")) {
            analyze = true; body = h(1)
          } else if (h.length == 2 && h(0).equalsIgnoreCase("VERBOSE")) {
            verbose = true; body = h(1)
          } else stripping = false
        }
        explainStatement(body, analyze, verbose)
      case setTzRe(localOrNull, v) =>
        if (localOrNull != null) setLocal("timezone", stripQuotes(v))
        else setSetting("timezone", stripQuotes(v))
        Seq(stripQuotes(v)).toDF("timezone")
      case setRe(localOrNull, k, v) =>
        if (localOrNull != null) setLocal(k.toLowerCase, stripQuotes(v))
        else setSetting(k.toLowerCase, stripQuotes(v))
        Seq(stripQuotes(v)).toDF(k.toLowerCase)
      case showTzRe() =>
        Seq(spark.conf.get("spark.sql.session.timeZone")).toDF("timezone")
      case showRe(k) =>
        Seq(showSetting(k.toLowerCase)).toDF(k.toLowerCase)
      case resetRe(k) =>
        def restoreConf(key: String): Unit =
          originalConf.remove(key).foreach {
            case Some(v) => spark.conf.set(key, v)
            case None => try spark.conf.unset(key) catch {
              case _: Exception => () // non-removable SQLConf: leave it
            }
          }
        if (k.equalsIgnoreCase("ALL")) {
          originalConf.keys.toSeq.foreach(restoreConf)
          settings.clear()
          spark.conf.set("spark.sql.session.timeZone", initialTimeZone)
        } else if (k.equalsIgnoreCase("timezone")) {
          settings.remove("timezone")
          spark.conf.set("spark.sql.session.timeZone", initialTimeZone)
        } else {
          restoreConf(k.toLowerCase)
          settings.remove(k.toLowerCase)
        }
        Seq(k).toDF("reset")
      case createViewRe(orReplaceOrNull, name, sel) =>
        require(orReplaceOrNull != null ||
          !viewDefs.synchronized(viewDefs.containsKey(name)),
          s"""view "$name" already exists""")
        QueryDef.pgPlan(spark, sel).createOrReplaceTempView(name)
        viewDefs.synchronized { viewDefs.put(name, sel); () }
        Seq(name).toDF("view_created")
      case createMatViewRe(name, locOrNull, sel) =>
        val df = QueryDef.pgPlan(spark, sel)
        val loc = Option(locOrNull)
          .getOrElse(LakeEngine.defaultTableLocation(spark, name))
        createTableAsSelect(name, loc, df)
        matViews.put(name, sel)
        Seq(name).toDF("materialized_view_created")
      case refreshMatViewRe(name) =>
        val sel = matViews.getOrElse(name, throw new IllegalArgumentException(
          s"""materialized view "$name" does not exist"""))
        val t = table(name)
        t.truncate()
        t.append(QueryDef.pgPlan(spark, sel))
        refresh(name)
        Seq(name).toDF("refreshed")
      case dropViewRe(matOrNull, ifExistsOrNull, name) =>
        if (matOrNull != null) {
          val known = matViews.remove(name).isDefined
          require(known || ifExistsOrNull != null,
            s"""materialized view "$name" does not exist""")
          if (known) dropTable(name)
        } else {
          val removed = viewDefs.synchronized(viewDefs.remove(name) != null)
          require(removed || ifExistsOrNull != null,
            s"""view "$name" does not exist""")
          if (removed) spark.catalog.dropTempView(name)
        }
        Seq(name).toDF("view_dropped")
      case prepareRe(name, typesOrNull, stmt) =>
        val key = name.toLowerCase
        require(!prepared.contains(key),
          s"""prepared statement "$name" already exists""")
        val types = Option(typesOrNull).toSeq.flatMap(listItems)
        prepared.put(key, (stmt.trim, types))
        Seq(name).toDF("prepared")
      case executeRe(name, argsOrNull) =>
        route(bindPrepared(name, argsOrNull).trim)
      case deallocRe(name) =>
        if (name.equalsIgnoreCase("ALL")) prepared.clear()
        else {
          require(prepared.remove(name.toLowerCase).isDefined,
            s"""prepared statement "$name" does not exist""")
        }
        Seq(name).toDF("deallocated")
      case createFromRe(name, specOrNull, locOrNull, fmtPre, mode, url,
          fmtPost) =>
        val spec = Option(specOrNull).toSeq.flatMap(listItems)
        val loc = Option(locOrNull)
          .getOrElse(LakeEngine.defaultTableLocation(spark, name))
        val t = createTableFrom(name, loc, url,
          load = mode.equalsIgnoreCase("load_from"),
          format = Option(fmtPre).orElse(Option(fmtPost)),
          partitionBy = spec)
        register(name, t)
        Seq(t.read().count()).toDF("rows_loaded")
      case ctasRe(name, specOrNull, locOrNull, select) =>
        val spec = Option(specOrNull).toSeq.flatMap(listItems)
        val loc = Option(locOrNull)
          .getOrElse(LakeEngine.defaultTableLocation(spark, name))
        val t = createTableAsSelect(name, loc, QueryDef.pgPlan(spark, select),
          spec)
        Seq(t.read().count()).toDF("rows_inserted")
      case insertRe(name, colsOrNull, rest) if partParents.contains(name) =>
        // range-partitioned parent: route each row to its child. The
        // source executes ONCE — a single scan materializes the typed
        // rows into a staging dir partitioned BY CHILD INDEX, and the
        // per-child appends plus the stray check each read only their
        // slice of the staged parquet (footer-pruned), never the
        // source again (the reference delegates routing to PG's own
        // partitioning, which is likewise single-pass)
        val (schema, keyCol) = partParents(name)
        val aligned = alignToTable(name, schema.fields.toSeq,
          QueryDef.pgPlan(spark, rest), insertColumns(colsOrNull))
        require(retClause.isEmpty,
          "INSERT ... RETURNING into a partitioned parent is not " +
            "supported; insert into the member tables")
        val typed = applyDomainChecks(name, aligned.select(schema.fields
          .map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
        val kids = partChildren.getOrElse(name, Vector.empty)
        require(kids.nonEmpty, s"no partitions defined for $name")
        val k = col(keyCol)
        val ranged = kids.filter(_.from.isDefined)
        // PG's open bounds: FROM (MINVALUE) / TO (MAXVALUE)
        def cond(rp: RangePart) = {
          val lower =
            if (rp.from.get.equalsIgnoreCase("MINVALUE")) lit(true)
            else k >= expr(rp.from.get)
          val upper =
            if (rp.to.get.equalsIgnoreCase("MAXVALUE")) lit(true)
            else k < expr(rp.to.get)
          // PG routes NULL keys to the DEFAULT partition, never a range
          k.isNotNull && lower && upper
        }
        val defaultKid = kids.find(_.from.isEmpty)
        // first matching range wins (ranges don't overlap by DDL
        // validation); everything else is the DEFAULT/stray slice
        val routeExpr = ranged.zipWithIndex.foldRight(lit("d"): Column) {
          case ((rp, i), els) => when(cond(rp), lit(i.toString)).otherwise(els)
        }
        // staged through the CLUSTER filesystem (graft.staging.dir /
        // warehouse-dir default): executors write the routed slices
        // and the per-child appends read them back, so the dir must
        // be visible beyond the driver — existence checks go through
        // the Hadoop FileSystem API, never java.nio
        val stageDir = LakeEngine.stagingLocation(spark, s"ins_stage_$name")
        typed.withColumn("__route", routeExpr)
          .write.partitionBy("__route").parquet(stageDir)
        try {
          def slice(route: String): Option[DataFrame] = {
            val p = graft.lake.LakeFs.child(stageDir, s"__route=$route")
            if (graft.lake.LakeFs.exists(p)) Some(spark.read
              .schema(StructType(schema.fields))
              .parquet(p))
            else None
          }
          val strayOrDefault = slice("d")
          if (defaultKid.isEmpty) {
            // stray check BEFORE any append: a routing miss aborts the
            // whole statement with nothing written (PG aborts too)
            val stray = strayOrDefault.map(_.count()).getOrElse(0L)
            require(stray == 0,
              s"no partition of relation $name found for $stray row(s)")
          }
          var total = 0L
          def route(child: String, sliceDf: Option[DataFrame]): Unit =
            sliceDf.foreach { s =>
              val obs = new org.apache.spark.sql.Observation()
              table(child).append(s.observe(obs, count(lit(1)).as("n")))
              total += obs.get.get("n").flatMap(Option(_))
                .map(_.asInstanceOf[Long]).getOrElse(0L)
            }
          ranged.zipWithIndex.foreach { case (rp, i) =>
            route(rp.child, slice(i.toString))
          }
          defaultKid.foreach(rp => route(rp.child, strayOrDefault))
          refresh(name)
          Seq(total).toDF("rows_inserted")
        } finally graft.lake.LakeFs.deleteRecursive(stageDir)
      case insertRe(name, colsOrNull, rest) if tables.contains(name) =>
        val aligned = applyDomainChecks(name,
          alignToTable(name, table(name).meta.sparkSchema.fields.toSeq,
            QueryDef.pgPlan(spark, rest), insertColumns(colsOrNull)))
        // the inserted-row count rides the append's write job as an
        // observed metric (the copyFrom pattern) — the SELECT feeding
        // the INSERT executes once, not count()+append
        val insObs = new org.apache.spark.sql.Observation()
        table(name).append(aligned.observe(insObs, count(lit(1)).as("n")))
        refresh(name)
        retClause match {
          case Some(ret) =>
            // RETURNING projects the inserted rows AS TABLE-TYPED
            // values (a VALUES literal 77 comes back as the column's
            // BIGINT, like PG); re-plans the source — deterministic
            // sources only, like the rest of the SQL surface
            val schema = table(name).meta.sparkSchema
            returning(aligned.select(schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toSeq: _*), ret)
          case None =>
            Seq(insObs.get.get("n").flatMap(Option(_))
              .map(_.asInstanceOf[Long]).getOrElse(0L)).toDF("rows_inserted")
        }
      case rowDml(name, setList, where)
          if tables.contains(name) || partParents.contains(name) =>
        // UPDATE and DELETE: PG propagates them to every member of an
        // inheritance/partition family (test_inheritance.py posture);
        // ONLY names the table alone, and a partitioned parent holds no
        // rows of its own
        val verb = if (setList.isDefined) "UPDATE" else "DELETE"
        val members = if (onlyDml) Seq(name) else familyOf(name)
        require(retClause.isEmpty || members.size == 1,
          s"$verb ... RETURNING over an inheritance family is not " +
            "supported; target the member tables")
        require(members.forall(m => tables.contains(m) || partParents.contains(m)),
          s"family of $name contains foreign members: $verb cannot propagate")
        val assignments = setList.map(guardedAssignments(name, _))
        val pred = where.map(expr).getOrElse(lit(true))
        val targets = members.filter(tables.contains).map(table)
        // RETURNING reads the pre-statement snapshot (copy-on-write
        // keeps its files until expiry, so the read is immutable): the
        // deleted rows, or the updated rows as the assignments leave
        // them
        val before = for (ret <- retClause; t <- targets.headOption)
          yield ret -> t.meta.currentSnapshot
            .fold(t.read())(snap => t.readAsOf(snap.id))
        val n = targets.map(t =>
          assignments.fold(t.delete(pred))(t.update(pred, _))).sum
        refresh(name)
        before match {
          case Some((ret, old)) => returning(lake.LakeTable.matchedRows(
            old, pred, assignments.getOrElse(Map.empty)), ret)
          case None =>
            Seq(n).toDF(if (setList.isDefined) "rows_updated" else "rows_deleted")
        }
      case snapshotsRe(name) if tables.contains(name) =>
        table(name).snapshots
      case filesRe(name) if tables.contains(name) =>
        table(name).files
      case inProgressRe(proj, whereOrNull) =>
        val df = inProgressFiles
        project(Option(whereOrNull).fold(df)(w => df.filter(expr(w))), proj)
      case fileListRe(proj, glob) =>
        project(listFiles(glob), proj)
      case fileSizeRe(url) =>
        Seq(fileSize(url)).toDF("size")
      case fileExistsRe(url) =>
        Seq(fileExists(url)).toDF("exists")
      case cacheAddRe(urlRaw) =>
        val url = resolveStage(urlRaw)
        validateCacheableUrl(url)
        Seq(sources.HttpSource.cacheAdd(url)).toDF("add")
      case cacheRemoveRe(urlRaw) =>
        val url = resolveStage(urlRaw)
        validateCacheableUrl(url)
        Seq(sources.HttpSource.cacheRemove(url)).toDF("remove")
      case cacheListRe(proj, whereUrlOrNull) =>
        val all = sources.FileCache.list().toDF("path", "file_size")
        project(Option(whereUrlOrNull)
          .fold(all)(u => all.filter(col("path") === resolveStage(u))), proj)
      case previewRe(url, fmtOrNull) =>
        preview(url, Option(fmtOrNull))
      // COPY ... TO/FROM — the reference's SQL import/export surface
      // (pg_lake_copy/src/copy/copy.c; format + compression from the
      // target name, PG-style WITH (option value, ...) list)
      case copyToRe(nameOrNull, colsOrNull, subqOrNull, url, optsOrNull) =>
        val base =
          if (subqOrNull != null)
            QueryDef.pgPlan(spark,
              subqOrNull.stripPrefix("(").stripSuffix(")"))
          else spark.table(nameOrNull)
        // optional PG column-subset list: COPY t (a, b) TO …
        val df = Option(colsOrNull).map(cl =>
          base.select(PgLexer.splitTop(cl, ",").map(c => expr(c.trim)): _*))
          .getOrElse(base)
        // the exported-row count rides the write job as an observed
        // metric — one scan, not count()+write
        val obs = new org.apache.spark.sql.Observation()
        copyTo(df.observe(obs, count(lit(1)).as("n")), url,
          validatedCopyOptions(optsOrNull))
        Seq(obs.get.get("n").flatMap(Option(_)).map(_.asInstanceOf[Long])
          .getOrElse(0L)).toDF("rows_exported")
      case copyFromRe(name, colsOrNull, url, optsOrNull)
          if tables.contains(name) =>
        val cols = Option(colsOrNull).map(PgLexer.splitTop(_, ",").map(
          _.trim.stripPrefix("`").stripSuffix("`")))
        Seq(copyFrom(name, url, validatedCopyOptions(optsOrNull), cols))
          .toDF("rows_imported")
      case lakeAtRe(name, snap) if tables.contains(name) =>
        table(name).readAsOf(snap.toLong)
      case changesRe(name, from, to) if tables.contains(name) =>
        table(name).changes(from.toLong, to.toLong)
      case scanReportRe(name) if tables.contains(name) =>
        val (scanned, skipped) = table(name).scanReport
        Seq((scanned, skipped)).toDF("data_files_scanned",
          "data_files_skipped")
      case alterSetPropsRe(name, propList) if tables.contains(name) =>
        val props = parseCopyOptions(propList)
        table(name).setProperties(props)
        Seq(props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString(", ")).toDF("properties_set")
      case icebergFilesRe(url) =>
        graft.sources.IcebergSnapshot.files(spark, url)
      case icebergMetaRe(url) =>
        graft.sources.IcebergSnapshot.metadataJson(spark, url)
      case urlEncodeRe(text) =>
        Seq(lake.UrlEncode.path(text.replace("''", "'")))
          .toDF("url_encode_path")
      case fileDeleteRe(urlRaw) =>
        // the reference's exact refusal (s3_file_utils.c:278): deletion
        // is opt-in per session, SET pg_lake_table.
        // enable_delete_file_function TO on
        val enabled = settings.get("pg_lake_table.enable_delete_file_function")
          .exists(v => lake.LakeTable.pgBool(v,
            "pg_lake_table.enable_delete_file_function"))
        require(enabled, "delete_file: file deletion has been disabled " +
          "by the administrator")
        val url = resolveStage(urlRaw)
        if (objectStoreUrlRe.matches(url))
          sources.HttpSource.deleteObject(url)
        else lake.LakeFs.deleteIfExists(url)
        Seq(url).toDF("deleted")
      case tableSizeRe(name) if tables.contains(name) =>
        Seq(table(name).meta.currentSnapshot
          .map(_.files.map(_.bytes).sum).getOrElse(0L)).toDF("table_size")
      case lakeVersionRe() =>
        Seq(LakeEngine.Version).toDF("version")
      case referencedFilesRe(url) =>
        sources.IcebergSnapshot.referencedFiles(resolveStage(url))
          .toDF("path")
      case dataFileStatsRe(url) =>
        sources.IcebergSnapshot.dataFileStats(spark, resolveStage(url))
      case truncateRe(onlyOrNull, name)
          if tables.contains(name) || partParents.contains(name) =>
        // PG: TRUNCATE on a family head empties every descendant too;
        // TRUNCATE ONLY limits it to the named table. Foreign members
        // refuse loudly like the other family DML.
        val targets =
          if (onlyOrNull != null) Seq(name).filter(tables.contains)
          else {
            val fam = familyOf(name)
            require(fam.forall(m =>
              tables.contains(m) || partParents.contains(m)),
              s"family of $name contains foreign members: TRUNCATE " +
                "cannot propagate")
            fam.filter(tables.contains)
          }
        targets.foreach(m => table(m).truncate())
        refresh(name)
        Seq(0L).toDF("rows_remaining")
      case addFilesRe(name, arr) if tables.contains(name) =>
        // zero-copy adoption (reference CALL lake_iceberg.
        // add_files_to_table, test_iceberg_add_table.py)
        val paths = PgLexer.splitTop(arr, ",").map(_.trim)
          .map(p => p.stripPrefix("'").stripSuffix("'"))
          .filter(_.nonEmpty)
        table(name).addFiles(paths)
        refresh(name)
        Seq(paths.size.toLong).toDF("files_added")
      case vacuumAllRe() =>
        // bare VACUUM sweeps every managed table per its autovacuum
        // policy (PG's table-less VACUUM; the reference's worker loop)
        require(activeTx.isEmpty,
          "VACUUM cannot run inside a transaction block")
        Seq(maintain().mkString(",")).toDF("maintained")
      case vacuumRe(name) if tables.contains(name) =>
        table(name).vacuum(); refresh(name)
        Seq(table(name).meta.currentSnapshot.map(_.files.size).getOrElse(0))
          .toDF("data_files")
      case optimizeRe(name) if tables.contains(name) =>
        table(name).compact(); refresh(name)
        Seq(table(name).meta.currentSnapshot.map(_.files.size).getOrElse(0))
          .toDF("data_files")
      case dropTableRe(ifExists, name) =>
        activeTx match {
          case Some(tx) if tx.created.contains(name) =>
            // created in THIS transaction: nothing committed to lose —
            // dropping it is exactly its rollback
            tx.created -= name
            tx.overlays.remove(name)
            tables.get(name).foreach(_.txOverlay = None)
            dropTable(name)
            Seq(name).toDF("dropped")
          case Some(tx) if tables.contains(name) =>
            // pre-existing managed table: STAGE the drop (PG DDL is
            // transactional — reference test_iceberg_in_tx.py drop
            // shapes). The registry entry detaches now so in-tx reads
            // stop resolving; ROLLBACK restores it untouched; COMMIT
            // queues the tree for VACUUM (files stay until vacuumed,
            // matching the reference's in-progress accounting).
            require(childrenOf(name).isEmpty,
              s"cannot drop table $name because other tables inherit " +
                "from it")
            require(!inheritsOf.contains(name),
              s"DROP TABLE of inheritance-family member $name inside " +
                "a transaction block is not supported")
            val t = tables(name)
            tx.dropped += StagedDrop(name, t,
              t.txOverlay.flatMap(_.staged),
              domainCols.remove(name), colDefaults.remove(name))
            tx.overlays.remove(name)
            tables.remove(name)
            t.txOverlay = None
            spark.catalog.dropTempView(name)
            spark.catalog.dropTempView(s"__only_$name")
            Seq(name).toDF("dropped")
          case Some(_) if partParents.contains(name) =>
            throw new IllegalArgumentException(
              s"DROP TABLE of partitioned parent $name inside a " +
                "transaction block is not supported")
          case Some(_) if ifExists != null =>
            Seq.empty[String].toDF("dropped")
          case Some(_) =>
            throw new IllegalArgumentException(s"no such table: $name")
          case None =>
            if (tables.contains(name) || partParents.contains(name)) {
              dropTable(name); Seq(name).toDF("dropped")
            }
            else if (ifExists != null) Seq.empty[String].toDF("dropped")
            else throw new IllegalArgumentException(s"no such table: $name")
        }
      case alterAddRe(name, colName, colType, defaultOrNull)
          if tables.contains(name) =>
        table(name).addColumn(colName, pgTypeName(colType.trim),
          Option(defaultOrNull).map(_.trim))
        refresh(name)
        Seq(colName).toDF("column_added")
      case createDomainRe(name, tail) =>
        val key = name.toLowerCase
        require(!domains.contains(key), s"""domain "$name" already exists""")
        val (base, default, check) = parseDomainTail(tail)
        // validate the base type resolves now, not at first use
        org.apache.spark.sql.types.DataType.fromDDL(pgTypeName(base))
        domains.put(key, Domain(base, default, check))
        Seq(name).toDF("domain_created")
      case dropDomainRe(ifExistsOrNull, name) =>
        val known = domains.remove(name.toLowerCase).isDefined
        require(known || ifExistsOrNull != null,
          s"""domain "$name" does not exist""")
        Seq(name).toDF("domain_dropped")
      case createInheritsRe(name, colsOrEmpty, parent, locOrNull) =>
        val parentSchema =
          if (tables.contains(parent)) table(parent).meta.sparkSchema
          else spark.table(parent).schema
        val colsSpec = colsOrEmpty.trim
        // () or (LIKE parent) take the parent's columns; explicit
        // columns append as extras (PG merges parent columns in front)
        val extras = colsSpec match {
          case "" => Nil
          case likeRe(src) =>
            val srcSchema =
              if (tables.contains(src)) table(src).meta.sparkSchema
              else spark.table(src).schema
            require(srcSchema.fieldNames.map(_.toLowerCase).toSeq ==
              parentSchema.fieldNames.map(_.toLowerCase).toSeq,
              s"LIKE $src columns must match the inherited parent's")
            Nil
          case other => listItems(other).map(parseColDef)
        }
        val schema = StructType(parentSchema.fields ++ extras.map(_._1))
        // domain/default enforcement inherits from the parent and
        // extends with the extras' own declarations
        val cDoms = domainCols.getOrElse(parent, Nil) ++
          extras.collect { case (f, Some(dn), _) => f.name -> dn }
        val cDefs = colDefaults.getOrElse(parent, Nil) ++
          extras.collect { case (f, _, Some(d)) => f.name -> d }
        if (cDoms.nonEmpty) domainCols.put(name, cDoms)
        if (cDefs.nonEmpty) colDefaults.put(name, cDefs)
        val loc = Option(locOrNull)
          .getOrElse(LakeEngine.defaultTableLocation(spark, name))
        val t = LakeTable.create(spark, loc, name, schema, Nil)
        inheritsOf.put(name, parent)
        register(name, t)
        refreshFamilyViews(parent)
        Seq(name).toDF("table_created")
      case alterInheritRe(name, noOrNull, parent) =>
        if (noOrNull != null) {
          require(inheritsOf.get(name).contains(parent),
            s"$name does not inherit from $parent")
          inheritsOf.remove(name)
        } else {
          require(!familyOf(name).contains(parent),
            s"circular inheritance: $parent is already a descendant of $name")
          val parentCols =
            (if (tables.contains(parent)) table(parent).meta.sparkSchema
             else spark.table(parent).schema).fieldNames
              .map(_.toLowerCase).toSet
          val childCols =
            (if (tables.contains(name)) table(name).meta.sparkSchema
             else spark.table(name).schema).fieldNames
              .map(_.toLowerCase).toSet
          require(parentCols.subsetOf(childCols),
            s"child table $name is missing inherited columns: " +
              (parentCols -- childCols).mkString(", "))
          inheritsOf.put(name, parent)
        }
        refreshFamilyViews(parent)
        reapplyViews()
        Seq(name).toDF("inheritance_changed")
      case createPartParentRe(name, colList, keyCol) =>
        val parsed = listItems(colList).map(parseColDef)
        val schema = StructType(parsed.map(_._1))
        require(schema.fieldNames.exists(_.equalsIgnoreCase(keyCol)),
          s"partition key $keyCol is not a column of $name")
        val pDoms = parsed.collect { case (f, Some(dn), _) => f.name -> dn }
        val pDefs = parsed.collect { case (f, _, Some(d)) => f.name -> d }
        if (pDoms.nonEmpty) domainCols.put(name, pDoms)
        if (pDefs.nonEmpty) colDefaults.put(name, pDefs)
        partParents.put(name, (schema, keyCol))
        partChildren.put(name, Vector.empty)
        refreshFamilyViews(name)
        Seq(name).toDF("table_created")
      case createPartChildRe(name, parent, fromOrNull, toOrNull,
          defaultOrNull, locOrNull) =>
        val (schema, _) = partParents.getOrElse(parent,
          throw new IllegalArgumentException(
            s"$parent is not a partitioned table"))
        require(defaultOrNull == null ||
          !partChildren(parent).exists(_.from.isEmpty),
          s"$parent already has a DEFAULT partition")
        // bounds must be constants (or MINVALUE/MAXVALUE): validate at
        // CREATE like PG, not mid-INSERT after earlier children landed
        Seq(fromOrNull, toOrNull).filter(_ != null).map(_.trim)
          .filterNot(b => b.equalsIgnoreCase("MINVALUE") ||
            b.equalsIgnoreCase("MAXVALUE"))
          .foreach { b =>
            try spark.range(1).select(expr(b)).head()
            catch {
              case e: Exception => throw new IllegalArgumentException(
                s"partition bound ($b) must be a constant", e)
            }
          }
        val loc = Option(locOrNull)
          .getOrElse(LakeEngine.defaultTableLocation(spark, name))
        val t = LakeTable.create(spark, loc, name, schema, Nil)
        partChildren.put(parent, partChildren(parent) :+
          RangePart(name, Option(fromOrNull).map(_.trim),
            Option(toOrNull).map(_.trim)))
        inheritsOf.put(name, parent)
        register(name, t)
        refreshFamilyViews(parent)
        Seq(name).toDF("table_created")
      case createLikeRe(name, src, locOrNull) =>
        // reference: CREATE TABLE t (LIKE lake_table) USING iceberg —
        // the log-pipeline DDL (docs/use-case-log-management.md), schema
        // copied from a registered managed table or any temp view
        val schema =
          if (tables.contains(src)) table(src).meta.sparkSchema
          else spark.table(src).schema
        val loc = Option(locOrNull)
          .getOrElse(LakeEngine.defaultTableLocation(spark, name))
        val t = LakeTable.create(spark, loc, name, schema, Nil)
        register(name, t)
        Seq(name).toDF("table_created")
      case createColsRe(name, colList, specOrNull, locOrNull, withOrNull) =>
        val parsed = listItems(colList).map(parseColDef)
        val fields = parsed.map(_._1)
        val domEntries = parsed.collect {
          case (f, Some(dn), _) => f.name -> dn
        }
        val defEntries = parsed.collect {
          case (f, _, Some(d)) => f.name -> d
        }
        if (domEntries.nonEmpty) domainCols.put(name, domEntries)
        if (defEntries.nonEmpty) colDefaults.put(name, defEntries)
        val spec = Option(specOrNull).toSeq.flatMap(listItems)
        val loc = Option(locOrNull)
          .getOrElse(LakeEngine.defaultTableLocation(spark, name))
        // PG-style WITH (k = 'v', ...) creation options — the
        // reference's table-option surface (compatibility_mode,
        // row_ids, out_of_range_values, ...)
        val props = Option(withOrNull).toSeq.flatMap(listItems).map { o =>
          val Array(k, v) = o.split("=", 2)
          k.trim.toLowerCase -> v.trim.stripPrefix("'").stripSuffix("'")
        }.toMap
        val t = LakeTable.create(spark,
          loc, name, org.apache.spark.sql.types.StructType(fields), spec,
          props)
        register(name, t)
        Seq(name).toDF("table_created")
      case alterRenameRe(name, from, to) if tables.contains(name) =>
        table(name).renameColumn(from, to); refresh(name)
        Seq(to).toDF("column_renamed")
      case alterDropRe(name, colName) if tables.contains(name) =>
        table(name).dropColumn(colName); refresh(name)
        Seq(colName).toDF("column_dropped")
      case alterSetPartRe(name, spec) if tables.contains(name) =>
        val transforms = listItems(spec)
        table(name).setPartitionSpec(transforms); refresh(name)
        Seq(transforms.mkString(", ")).toDF("partition_spec")
      case alterClusterRe(name, cols) if tables.contains(name) =>
        val cs = listItems(cols)
        table(name).cluster(cs); refresh(name)
        Seq(cs.mkString(", ")).toDF("clustered_by")
      case _ =>
        require(retClause.isEmpty,
          "RETURNING is only supported on managed-table DML")
        QueryDef.pgPlan(spark, dmlText)
    }
  }

  /** Bind EXECUTE arguments into a prepared statement's `$N` slots.
    * PG casts each argument to its declared parameter type before
    * binding; undeclared trailing arguments bind as-is.
    */
  private def bindPrepared(name: String, argsOrNull: String): String = {
    val (stmt, types) = prepared.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"""prepared statement "$name" does not exist"""))
    val args = Option(argsOrNull).toSeq.flatMap(listItems)
    // Declared parameter types are PG-spelled (int4, text, numeric…);
    // route through pgTypeName so the emitted CAST is Spark-valid.
    val castArgs = args.zipWithIndex.map { case (a, i) =>
      if (i < types.length) s"CAST(($a) AS ${pgTypeName(types(i))})" else a
    }
    plans.DollarParams.bind(stmt, castArgs)
  }

  /** `type [DEFAULT expr] [CHECK (expr)]` → (base, default, check),
    * split at depth-0 keyword tokens so expression-internal keywords,
    * parens and string literals survive.
    */
  private def parseDomainTail(tail: String): (String, Option[String],
      Option[String]) = {
    val (beforeCheck, check) = PgLexer.topKeyword(tail, "CHECK") match {
      case None => (tail, None)
      case Some((before, after)) =>
        val ts = PgLexer.tokenize(after)
        require(ts.headOption.exists(_.is('o', "(")),
          "CREATE DOMAIN: CHECK requires a parenthesized expression")
        val close = PgLexer.matchParen(ts, 0)
        require(close > 0, "CREATE DOMAIN: unbalanced CHECK parens")
        (before, Some(after.substring(ts(0).end, ts(close).start).trim))
    }
    val (base, default) = PgLexer.topKeyword(beforeCheck, "DEFAULT") match {
      case None => (beforeCheck.trim, None)
      case Some((b, d)) => (b.trim, Some(d.trim).filter(_.nonEmpty))
    }
    (base, default, check)
  }

  /** `name type [DEFAULT expr]` column definition, resolving domain
    * type names onto their base type. Returns (field, domainName?,
    * defaultSql?).
    */
  private def parseColDef(c: String): (org.apache.spark.sql.types.StructField,
      Option[String], Option[String]) = {
    val Array(cn, rest) = c.split("\\s+", 2)
    val m = "(?is)^(.+?)(?:\\s+DEFAULT\\s+(.+))?$".r
      .findFirstMatchIn(rest).get
    val tyName = m.group(1).trim
    val explicitDefault = Option(m.group(2)).map(_.trim)
    domains.get(tyName.toLowerCase) match {
      case Some(dom) =>
        (org.apache.spark.sql.types.StructField(cn,
          org.apache.spark.sql.types.DataType.fromDDL(pgTypeName(dom.base))),
          Some(tyName.toLowerCase),
          explicitDefault.orElse(dom.default))
      case None =>
        (org.apache.spark.sql.types.StructField(cn,
          org.apache.spark.sql.types.DataType.fromDDL(pgTypeName(tyName))),
          None, explicitDefault)
    }
  }

  /** A PG column list (`INSERT INTO t (a, b)`, `COPY t (a, b)`)
    * resolved against the table's fields, case-insensitively.
    */
  private def listedFields(name: String, fields: Seq[StructField],
      listed: Seq[String]): Seq[StructField] = {
    val fs = listed.map(c => fields.find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"""column "$c" of relation "$name" does not exist""")))
    fs.diff(fs.distinct).headOption.foreach(f => throw
      new IllegalArgumentException(
        s"""column "${f.name}" specified more than once"""))
    fs
  }

  private def insertColumns(colsOrNull: String): Option[Seq[String]] =
    Option(colsOrNull).map(_.split(",").toSeq
      .map(_.trim.stripPrefix("\"").stripSuffix("\"")))

  /** Align an INSERT or COPY source to table `name`: source column i
    * lands in `listed(i)`, or without a list in the table's i-th column
    * (VALUES lists arrive as col1..colN). Every column the source does
    * not reach fills from its declared or domain DEFAULT, else NULL. A
    * source wider than the table without a list is refused, like PG.
    */
  private def alignToTable(name: String, fields: Seq[StructField],
      df: DataFrame, listed: Option[Seq[String]]): DataFrame = {
    val n = df.columns.length
    val into = listed match {
      case Some(cs) =>
        val fs = listedFields(name, fields, cs)
        require(fs.length <= n,
          "INSERT has more target columns than expressions")
        require(fs.length >= n,
          "INSERT has more expressions than target columns")
        fs
      case None =>
        require(n <= fields.length,
          "INSERT has more expressions than target columns")
        fields.take(n)
    }
    val named =
      if (df.columns.toSeq == into.map(_.name)) df
      else df.toDF(into.map(_.name): _*)
    if (into == fields) named
    else fields.filterNot(into.contains).foldLeft(named) { (acc, f) =>
      acc.withColumn(f.name, defaultExprFor(name, f.name, f.dataType))
    }.select(fields.map(f => col(f.name)): _*)
  }

  /** Default expression for an omitted INSERT column: declared column
    * (or domain) DEFAULT, else typed NULL.
    */
  private def defaultExprFor(name: String, c: String,
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    colDefaults.getOrElse(name, Nil).collectFirst {
      case (cn, d) if cn.equalsIgnoreCase(c) => expr(d).cast(dt)
    }.getOrElse(lit(null).cast(dt))
  }

  /** Substitute the domain CHECK's VALUE keyword token-wise — string
    * literals and quoted identifiers survive, where a word-boundary
    * regex would also rewrite the contents of a literal like
    * `CHECK (VALUE <> 'no value')`.
    */
  private def substituteValue(check: String, replacement: String): String =
    PgLexer.splice(check, PgLexer.tokenize(check).filter(_.is('w', "VALUE"))
      .map(t => (t.start, t.end, replacement)))

  /** Wrap a frame headed for `name` with per-row domain CHECK
    * assertions (reference test_domain.py: COPY/INSERT must raise
    * "value for domain X violates check constraint"). Single scan:
    * the assertion rides the write projection, no extra count pass.
    * NULL values pass the check (PG: a NULL check result is not a
    * violation).
    */
  private def applyDomainChecks(name: String, df: DataFrame): DataFrame =
    domainCols.get(name).filter(_.nonEmpty).map { entries =>
      entries.foldLeft(df) { case (acc, (c, dn)) =>
        domains.get(dn).flatMap(_.check) match {
          case Some(chk) if acc.columns.exists(_.equalsIgnoreCase(c)) =>
            val cond = expr(substituteValue(chk, c))
            val dt = acc.schema(acc.columns
              .find(_.equalsIgnoreCase(c)).get).dataType
            acc.withColumn(c, when(cond.isNotNull && !cond,
              raise_error(lit(s"value for domain $dn violates check " +
                "constraint")).cast(dt)).otherwise(col(c)))
          case _ => acc
        }
      }
    }.getOrElse(df)

  /** UPDATE assignments with each target column's domain CHECK wrapped
    * around the new value (PG validates domains on every write path,
    * not just INSERT — test_domain.py's posture).
    */
  private def guardedAssignments(name: String, setList: String)
      : Map[String, org.apache.spark.sql.Column] = {
    val doms = domainCols.getOrElse(name, Nil)
      .map { case (c, d) => c.toLowerCase -> d }.toMap
    PgLexer.splitTop(setList, ",").map { a =>
      val (c, e) = PgLexer.splitTop(a, "=") match {
        case c +: rest if rest.nonEmpty => (c, rest.mkString("="))
        case _ => throw new IllegalArgumentException(
          s"syntax error in SET item: ${a.trim}")
      }
      val target = c.trim
      val vExpr = expr(e.trim)
      val wrapped = doms.get(target.toLowerCase)
        .flatMap(dn => domains.get(dn).flatMap(_.check).map(dn -> _)) match {
        case Some((dn, chk)) =>
          val cond = expr(substituteValue(chk, s"(${e.trim})"))
          when(cond.isNotNull && !cond, raise_error(lit(
            s"value for domain $dn violates check constraint")))
            .otherwise(vExpr)
        case None => vExpr
      }
      target -> wrapped
    }.toMap
  }

  /** The trimmed, non-empty items of a depth-0 comma list. */
  private def listItems(s: String): Seq[String] =
    PgLexer.splitTop(s, ",").map(_.trim).filter(_.nonEmpty)

  /** `df` projected to `*` or a comma-separated column list. */
  private def project(df: DataFrame, proj: String): DataFrame =
    if (proj.trim == "*") df
    else df.select(PgLexer.splitTop(proj, ",").map(c => col(c.trim)): _*)

  /** A RETURNING list projected over `rows`, with the three-valued
    * `[NOT] IN (subquery)` a SELECT list gets.
    */
  private def returning(rows: DataFrame, ret: String): DataFrame =
    graft.plans.NullAwareIn.frame(
      rows.selectExpr(PgLexer.splitTop(ret, ",").map(_.trim): _*))

  /** Split a depth-0 RETURNING clause off a DML statement (token-wise,
    * so literals containing the word survive).
    */
  private def splitReturning(text: String): (String, Option[String]) =
    PgLexer.topKeyword(text, "RETURNING") match {
      case Some((body, ret)) =>
        (body.trim, Some(ret.trim).filter(_.nonEmpty))
      case None => (text, None)
    }

  private def stripQuotes(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
      t.substring(1, t.length - 1)
    else t
  }

  /** SET surface: `timezone` drives the Spark session timezone (the
    * timestamptz parsing/rendering GUC, reference test_timezone.py);
    * spark.* keys pass through to the session conf; any dotted key is
    * a custom GUC (PG's extension-namespace rule — the reference's own
    * `pg_lake_table.enable_full_query_pushdown` class); an unknown
    * undotted key errors like PG.
    */
  private def setSetting(key: String, value: String): Unit = key match {
    case "timezone" | "time zone" =>
      spark.conf.set("spark.sql.session.timeZone", value)
      settings.put("timezone", value); ()
    case "pg_lake.stage_location" =>
      // reference PgLakeStageLocationCheckHook (init.c): cloud-storage
      // URL only (http/https rejected), no query parameters; SET TO
      // DEFAULT unsets. The value is stored VERBATIM (trailing slash
      // preserved — SHOW echoes it); resolution strips it.
      if (value.equalsIgnoreCase("DEFAULT")) { settings.remove(key); () }
      else {
        def bad(detail: String): Nothing = throw new IllegalArgumentException(
          s"""invalid value for parameter "pg_lake.stage_location": """ +
            detail)
        if (!value.matches("^(s3a?|gs|r2|az|azure|abfss?)://.+"))
          bad("pg_lake.stage_location must be a valid cloud storage " +
            "URL (s3://, gs://, az://, azure://, or abfss://)")
        if (value.contains('?'))
          bad("pg_lake.stage_location cannot contain query parameters (?)")
        settings.put(key, value); ()
      }
    case k if k.startsWith("spark.") =>
      // remember the pre-SET value (first SET wins) so RESET restores
      // the live conf instead of only forgetting the GUC entry
      if (!originalConf.contains(k))
        originalConf.put(k, spark.conf.getOption(k))
      spark.conf.set(k, value)
      settings.put(k, value); ()
    case k @ "pg_lake_iceberg.max_snapshot_age" =>
      // reference GUC (init.c:254): seconds, non-negative; 0 turns on
      // expire-on-write. Lives in the session conf so the table layer
      // (LakeTable.effectiveMaxSnapshotAgeSecs) sees it.
      require(scala.util.Try(value.trim.toLong).toOption.exists(_ >= 0),
        s"""invalid value for parameter "$k": $value""")
      if (!originalConf.contains(k))
        originalConf.put(k, spark.conf.getOption(k))
      spark.conf.set(k, value.trim)
      settings.put(k, value.trim); ()
    case k if k.contains('.') || k == "search_path" =>
      settings.put(k, value); ()
    case k => throw new IllegalArgumentException(
      s"""unrecognized configuration parameter "$k"""")
  }

  private def showSetting(key: String): String = key match {
    case "timezone" | "time zone" =>
      spark.conf.get("spark.sql.session.timeZone")
    case k if k.startsWith("spark.") =>
      settings.get(k).orElse(spark.conf.getOption(k)).getOrElse(
        throw new IllegalArgumentException(
          s"""unrecognized configuration parameter "$k""""))
    case k => settings.getOrElse(k,
      throw new IllegalArgumentException(
        s"""unrecognized configuration parameter "$k""""))
  }

  /** EXPLAIN surface (reference test_explain.py): one `query_plan`
    * line per row, PG-style. Without ANALYZE the statement is NEVER
    * executed — DML explains its read side (the scan the write would
    * drive), exactly PG's contract; with ANALYZE a SELECT runs and the
    * row count is appended, and DML executes through the normal
    * transactional route with its affected-count reported.
    */
  private def explainStatement(body0: String, analyze: Boolean,
      verbose: Boolean): DataFrame = {
    import spark.implicits._
    // DML bodies may carry RETURNING: strip it here (the outer split
    // only fires when the whole statement starts with INSERT/UPDATE/
    // DELETE) — PG's EXPLAIN ANALYZE discards RETURNING output too
    val body = splitReturning(body0.trim.stripSuffix(";").trim)._1
    body match {
      case executeRe(name, argsOrNull) =>
        explainStatement(bindPrepared(name, argsOrNull), analyze, verbose)
      case _ =>
        val isDml = dmlRe.pattern.matcher(body).matches()
        val readSide = body match {
          case insertRe(_, _, sel) if sel.toUpperCase.startsWith("SELECT") =>
            sel
          case rowDml(t, _, where) =>
            s"SELECT * FROM $t" + where.map(w => s" WHERE $w").getOrElse("")
          case _ if isDml => s"SELECT 1" // INSERT ... VALUES: constant source
          case q => q
        }
        val df = QueryDef.pgPlan(spark, readSide)
        val mode = if (verbose) "formatted" else "simple"
        val planText = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(mode))
        val header =
          if (!isDml) Nil
          else Seq(s"Statement: ${wsRe.pattern.split(body, 2)(0).toUpperCase}" +
            " (plan shows the scanned read side)")
        val tail =
          if (!analyze) Nil
          else if (isDml) {
            val n = route(body).head().getLong(0)
            Seq(s"Rows affected: $n")
          } else Seq(s"Rows returned: ${df.count()}")
        (header ++ planText.linesIterator.toSeq ++ tail).toDF("query_plan")
    }
  }

  // maintenance/DDL verbs routed to the transactional table ops
  // (the reference exposes the same surface through SQL: TRUNCATE,
  // lake_table.vacuum, ALTER TABLE add/rename/drop and partition DDL)
  // inspection table functions (reference: lake_iceberg.snapshots/files,
  // lake_file.list — docs/iceberg-tables.md:559, query-data-lake-files.md:42)
  private val snapshotsRe =
    "(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_snapshots\\s*\\(\\s*'(\\w+)'\\s*\\)\\s*;?\\s*$".r
  private val filesRe =
    "(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_files\\s*\\(\\s*'(\\w+)'\\s*\\)\\s*;?\\s*$".r
  private val fileListRe =
    ("(?is)^SELECT\\s+(\\*|path|path\\s*,\\s*size_bytes)\\s+FROM\\s+" +
      "lake_file[._]list\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$").r
  // lake_file.size / lake_file.exists scalar surfaces (reference
  // pg_lake_file_size/exists; @STAGE/ paths resolve first —
  // test_stage_location_integration.py)
  private val fileSizeRe =
    "(?is)^SELECT\\s+lake_file\\.size\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$".r
  // file-cache control (reference test_caching.py: pre-warm / evict /
  // inspect the local staging cache)
  private val cacheAddRe =
    "(?is)^SELECT\\s+lake_file_cache\\.add\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$".r
  private val cacheRemoveRe =
    "(?is)^SELECT\\s+lake_file_cache\\.remove\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$".r
  private val cacheListRe =
    ("(?is)^SELECT\\s+(\\*|path|file_size|path\\s*,\\s*file_size)\\s+FROM\\s+" +
      "lake_file_cache\\.list\\s*\\(\\s*\\)" +
      "(?:\\s+WHERE\\s+path\\s*=\\s*'([^']+)')?\\s*;?\\s*$").r
  private val fileExistsRe =
    "(?is)^SELECT\\s+lake_file\\.exists\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$".r
  // lake_file.preview(url [, format]) — column name/type inspection
  // before creating a table (reference test_file_preview.py)
  private val previewRe =
    ("(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_file\\.preview\\s*\\(\\s*" +
      "'([^']+)'(?:\\s*,\\s*'(\\w+)')?\\s*\\)\\s*;?\\s*$").r
  // the query group is greedy-with-backtracking (not a depth-limited
  // paren matcher): arbitrarily nested SELECTs route correctly, and the
  // trailing TO '...' anchor disambiguates the closing paren
  private val copyToRe =
    ("(?is)^COPY\\s+(?:(\\w+)(?:\\s*\\(([^()]*)\\))?|(\\(.+\\)))\\s+TO\\s+" +
      "'([^']+)'(?:\\s+WITH\\s*\\(([^)]*)\\))?\\s*;?\\s*$").r
  private val copyFromRe =
    ("(?is)^COPY\\s+(\\w+)(?:\\s*\\(([^()]*)\\))?\\s+FROM\\s+'([^']+)'" +
      "(?:\\s+WITH\\s*\\(([^)]*)\\))?\\s*;?\\s*$").r

  /** PG COPY option list: `format csv, header true, delimiter ','` —
    * bare words or quoted values, normalized to reader/writer options.
    */
  private def parseCopyOptions(spec: String): Map[String, String] =
    Option(spec).toSeq.flatMap(listItems)
      .map { o =>
        val parts = o.split("\\s+", 2)
        val k = parts(0).toLowerCase
        val v = if (parts.length > 1)
          parts(1).trim.stripPrefix("'").stripSuffix("'") else "true"
        (if (k == "delimiter") "sep" else k) -> v
      }.toMap

  /** COPY-route option validation (reference test_csv_copy.py: an
    * unknown option, format, or compression errors loudly — `boat '|'`
    * must not silently pass into the reader). PG's on/off booleans
    * normalize; `null` maps onto the reader/writer nullValue.
    */
  // null_padding and freeze are genuine no-ops here (Spark's permissive
  // CSV read already pads short rows; FREEZE is a PG heap-visibility
  // hint); force_quote maps onto quoteAll ('*' only); force_not_null
  // has no reader equivalent and is NOT accepted
  private val knownCopyOptions = Set(
    "format", "header", "sep", "quote", "escape", "null", "nullvalue",
    "null_padding", "force_quote", "freeze",
    "compression", "encoding", "mode", "emptyvalue", "columns",
    "directory")

  private def validatedCopyOptions(spec: String): Map[String, String] = {
    val opts = parseCopyOptions(spec)
    opts.keys.find(!knownCopyOptions.contains(_)).foreach(k =>
      throw new IllegalArgumentException(s"""option "$k" not recognized"""))
    opts.get("format").map(_.toLowerCase).foreach(f =>
      require(Set("csv", "parquet", "json", "iceberg", "delta").contains(f),
        s"""COPY format "$f" is not supported"""))
    opts.get("compression").map(_.toLowerCase).foreach(c =>
      require(Set("none", "gzip", "zstd", "snappy").contains(c),
        s"""compression "$c" is not recognized"""))
    opts.get("force_quote").foreach(v =>
      require(v.trim == "*",
        "force_quote: only '*' (quote everything) is supported"))
    opts.map { case (k, v) =>
      val nv = v.toLowerCase match {
        case "on" => "true"
        case "off" => "false"
        case _ if k == "format" || k == "compression" => v.toLowerCase
        case _ => v
      }
      val nk = k match {
        case "null" => "nullvalue"
        case "force_quote" => "quoteAll"
        case other => other
      }
      nk -> (if (nk == "quoteAll") "true" else nv)
    }
  }

  // time travel as a table function (reference: point a foreign table
  // at an old metadata.json — docs/iceberg-tables.md:836-863; here the
  // snapshot id selects directly)
  private val lakeAtRe =
    ("(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_at\\s*\\(\\s*'(\\w+)'\\s*,\\s*" +
      "(\\d+)\\s*\\)\\s*;?\\s*$").r
  // ALTER TABLE t SET (k 'v', ...) — table-property DDL
  private val alterSetPropsRe =
    "(?is)^ALTER\\s+TABLE\\s+(\\w+)\\s+SET\\s*\\(([^)]*)\\)\\s*;?\\s*$".r
  // snapshot changelog (reference test_iceberg_changelog.py surface)
  private val changesRe =
    ("(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_changes\\s*\\(\\s*'(\\w+)'\\s*,\\s*" +
      "(\\d+)\\s*,\\s*(\\d+)\\s*\\)\\s*;?\\s*$").r
  // pruning observability: EXPLAIN "Data Files Scanned/Skipped" parity
  private val scanReportRe =
    "(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_scan_report\\s*\\(\\s*'(\\w+)'\\s*\\)\\s*;?\\s*$".r

  // external-Iceberg inspection over a metadata.json URL (reference:
  // lake_iceberg.files/metadata — docs/iceberg-tables.md:601-656)
  private val icebergFilesRe =
    "(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_iceberg_files\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$".r
  private val icebergMetaRe =
    "(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_iceberg_metadata\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$".r
  // reference lake_iceberg.url_encode_path (test_iceberg_url_encode.py)
  private val urlEncodeRe =
    ("(?is)^SELECT\\s+lake_iceberg\\.url_encode_path\\s*\\(\\s*" +
      "'((?:[^']|'')*)'\\s*\\)\\s*;?\\s*$").r
  // lake_file.delete (reference s3_file_utils.c, test_delete_file.py):
  // gated by pg_lake_table.enable_delete_file_function (default off)
  private val fileDeleteRe =
    "(?is)^SELECT\\s+lake_file\\.delete\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$".r
  // lake_iceberg.table_size (test_iceberg_table_size.py)
  private val tableSizeRe =
    "(?is)^SELECT\\s+lake_iceberg\\.table_size\\s*\\(\\s*'(\\w+)'\\s*\\)\\s*;?\\s*$".r
  // lake.version (extension version surface)
  private val lakeVersionRe =
    "(?is)^SELECT\\s+lake\\.version\\s*\\(\\s*\\)\\s*;?\\s*$".r
  // external-metadata inspection (test_iceberg_referenced_files.py,
  // test_iceberg_data_file_stats.py)
  private val referencedFilesRe =
    ("(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_iceberg\\.find_all_referenced_files" +
      "\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$").r
  private val dataFileStatsRe =
    ("(?is)^SELECT\\s+\\*\\s+FROM\\s+lake_iceberg\\.data_file_stats" +
      "\\s*\\(\\s*'([^']+)'\\s*\\)\\s*;?\\s*$").r

  // statement kinds: DML (RETURNING split), DML on ONLY a family
  // member, writes a READ ONLY transaction refuses, and the query
  // statements PG's "before any query" guard counts
  private val dmlRe = "(?is)^(INSERT|UPDATE|DELETE)\\b.*".r
  private val onlyDmlRe = "(?is)^(DELETE\\s+FROM|UPDATE)\\s+ONLY\\s+(.+)$".r
  private val writeRe = ("(?is)^(INSERT|UPDATE|DELETE|TRUNCATE|CREATE|DROP|" +
    "ALTER|REFRESH|VACUUM)\\b.*|(?is)^COPY\\s+\\w+\\s+FROM\\b.*").r
  private val queryStmtRe = ("(?is)^(SELECT|WITH|TABLE|VALUES|INSERT|UPDATE|" +
    "DELETE|COPY|EXECUTE)\\b.*").r
  // DML against managed tables, after the RETURNING split
  // an `(a, b)` column list counts only when a query follows it, so
  // `INSERT INTO t (SELECT …)` stays a parenthesized source
  private val insertRe = ("(?is)^INSERT\\s+INTO\\s+(\\w+)" +
    "(?:\\s*\\(\\s*(\"?\\w+\"?(?:\\s*,\\s*\"?\\w+\"?)*)\\s*\\)" +
    "(?=\\s*(?:SELECT|VALUES|WITH|TABLE)\\b)\\s*|\\s+)(.+)$").r
  private val deleteRe =
    "(?is)^DELETE\\s+FROM\\s+(\\w+)(?:\\s+WHERE\\s+(.+))?$".r
  private val updateRe = "(?is)^UPDATE\\s+(\\w+)\\s+SET\\s+(.+)$".r
  /** UPDATE or DELETE text: (target, SET list for UPDATE, WHERE); the
    * SET list ends at the depth-0 WHERE keyword token.
    */
  private object rowDml {
    def unapply(text: String)
        : Option[(String, Option[String], Option[String])] = text match {
      case deleteRe(name, where) => Some((name, None, Option(where)))
      case updateRe(name, rest) => PgLexer.topKeyword(rest, "WHERE") match {
        case Some((set, where)) => Some((name, Some(set.trim), Some(where.trim)))
        case None => Some((name, Some(rest), None))
      }
      case _ => None
    }
  }
  private val ctasRe = ("(?is)^CREATE\\s+TABLE\\s+(\\w+)" +
    "(?:\\s+PARTITIONED\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\))?" +
    "(?:\\s+LOCATION\\s+'([^']*)')?" +
    "\\s+AS\\s+(SELECT.+)$").r
  // reference DDL: create table t () using iceberg with (load_from=…)
  // WITH accepts an optional format='…' on either side of the
  // load/definition option (reference test_delta_copy.py:
  // `with (definition_from = '…', format = 'delta')`)
  private val createFromRe =
    ("(?is)^CREATE\\s+TABLE\\s+(\\w+)\\s*(?:\\(\\s*\\))?" +
      "(?:\\s+USING\\s+\\w+)?" +
      "(?:\\s+PARTITIONED\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\))?" +
      "(?:\\s+LOCATION\\s+'([^']*)')?" +
      "\\s+WITH\\s*\\(\\s*(?:format\\s*=\\s*'(\\w+)'\\s*,\\s*)?" +
      "(load_from|definition_from)\\s*=\\s*'([^']+)'" +
      "(?:\\s*,\\s*format\\s*=\\s*'(\\w+)')?\\s*\\)\\s*;?\\s*$").r
  // the `(LIKE src)` column list of CREATE TABLE … INHERITS
  private val likeRe = "(?is)^LIKE\\s+(\\w+)$".r
  private val wsRe = "\\s+".r
  private val objectStoreUrlRe = "^(s3a?|gs|r2|az|azure|abfss?)://.*".r

  // EXPLAIN [(opts)] stmt / SET / SHOW / RESET / CREATE VIEW surfaces
  private val explainRe =
    "(?is)^EXPLAIN\\s+(?:\\(([^)]*)\\)\\s+)?(.+)$".r
  private val setTzRe = ("(?is)^SET\\s+(?:SESSION\\s+|(LOCAL)\\s+)?" +
    "TIME\\s+ZONE\\s+(.+?)\\s*;?\\s*$").r
  private val setRe = ("(?is)^SET\\s+(?:SESSION\\s+|(LOCAL)\\s+)?" +
    "([\\w.]+)\\s*(?:TO|=)\\s*(.+?)\\s*;?\\s*$").r
  private val showTzRe = "(?is)^SHOW\\s+TIME\\s+ZONE\\s*;?\\s*$".r
  private val showRe = "(?is)^SHOW\\s+([\\w.]+)\\s*;?\\s*$".r
  private val resetRe = "(?is)^RESET\\s+([\\w.]+|ALL)\\s*;?\\s*$".r
  private val createViewRe =
    "(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\s+(\\w+)\\s+AS\\s+(.+?)\\s*;?\\s*$".r
  private val createMatViewRe = ("(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\s+(\\w+)" +
    "(?:\\s+LOCATION\\s+'([^']*)')?\\s+AS\\s+(.+?)\\s*;?\\s*$").r
  private val refreshMatViewRe =
    "(?is)^REFRESH\\s+MATERIALIZED\\s+VIEW\\s+(\\w+)\\s*;?\\s*$".r
  private val dropViewRe = ("(?is)^DROP\\s+(MATERIALIZED\\s+)?VIEW\\s+" +
    "(IF\\s+EXISTS\\s+)?(\\w+)\\s*;?\\s*$").r

  // PG prepared-statement surface: the inner statement is captured raw
  // (greedy .+ with DOTALL); EXECUTE's argument list is greedy-to-last-
  // paren so nested calls inside arguments survive, split top-level
  private val prepareRe = ("(?is)^PREPARE\\s+(\\w+)" +
    "(?:\\s*\\(((?:[^()]|\\([^()]*\\))*)\\))?\\s+AS\\s+(.+?)\\s*;?\\s*$").r
  private val executeRe =
    "(?is)^EXECUTE\\s+(\\w+)(?:\\s*\\((.*)\\))?\\s*;?\\s*$".r
  private val deallocRe =
    "(?is)^DEALLOCATE\\s+(?:PREPARE\\s+)?(\\w+)\\s*;?\\s*$".r
  private val truncateRe =
    "(?is)^TRUNCATE\\s+(?:TABLE\\s+)?(ONLY\\s+)?(\\w+)\\s*;?\\s*$".r
  // accepts the reference's option spellings too: VACUUM (ICEBERG) t
  // (vacuum.c ProcessVacuumPgLakeIcebergFlag) and PG's VACUUM FULL t —
  // both run the same compact+expire here
  private val vacuumRe =
    "(?is)^VACUUM\\s+(?:\\(\\s*ICEBERG\\s*\\)\\s+|FULL\\s+)?(\\w+)\\s*;?\\s*$".r
  private val vacuumAllRe = "(?is)^VACUUM\\s*;?\\s*$".r
  // transaction control (PG §SQL-BEGIN et al.): optional WORK /
  // TRANSACTION noise words; BEGIN accepts-and-ignores an isolation
  // clause (snapshot isolation is what the storage model gives)
  private val beginRe = ("(?is)^(?:BEGIN|START\\s+TRANSACTION)" +
    "(?:\\s+(?:WORK|TRANSACTION))?" +
    "(?:\\s+ISOLATION\\s+LEVEL\\s+(READ\\s+UNCOMMITTED|" +
    "READ\\s+COMMITTED|REPEATABLE\\s+READ|SERIALIZABLE))?" +
    // PG separates transaction_modes with optional commas
    "(?:\\s*,?\\s+READ\\s+(WRITE|ONLY))?" +
    "\\s*;?\\s*$").r
  // PG SET TRANSACTION (§SQL-SET-TRANSACTION): isolation (only before
  // the transaction's first query) and access mode
  private val setTxIsoRe = ("(?is)^SET\\s+TRANSACTION\\s+ISOLATION\\s+" +
    "LEVEL\\s+(READ\\s+UNCOMMITTED|READ\\s+COMMITTED|" +
    "REPEATABLE\\s+READ|SERIALIZABLE)\\s*;?\\s*$").r
  private val setTxAccessRe =
    "(?is)^SET\\s+TRANSACTION\\s+READ\\s+(ONLY|WRITE)\\s*;?\\s*$".r
  private val commitTxRe = ("(?is)^(?:COMMIT|END)" +
    "(?:\\s+(?:WORK|TRANSACTION))?(\\s+AND\\s+CHAIN)?\\s*;?\\s*$").r
  // ABORT is PG's ROLLBACK synonym (§SQL-ABORT)
  private val rollbackTxRe = ("(?is)^(?:ROLLBACK|ABORT)" +
    "(?:\\s+(?:WORK|TRANSACTION))?(\\s+AND\\s+CHAIN)?\\s*;?\\s*$").r
  private val savepointRe = "(?is)^SAVEPOINT\\s+(\\w+)\\s*;?\\s*$".r
  // the reference's in-progress-files inspection view
  // (lake_engine.in_progress_files, test_iceberg_in_progress_files.py)
  private val inProgressRe = ("(?is)^SELECT\\s+(.+?)\\s+FROM\\s+" +
    "lake_engine\\.in_progress_files(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$").r
  private val rollbackToRe = ("(?is)^ROLLBACK(?:\\s+(?:WORK|TRANSACTION))?" +
    "\\s+TO\\s+(?:SAVEPOINT\\s+)?(\\w+)\\s*;?\\s*$").r
  private val releaseRe =
    "(?is)^RELEASE\\s+(?:SAVEPOINT\\s+)?(\\w+)\\s*;?\\s*$".r
  // matched AFTER the dialect rewrites, so both the PG spelling
  // ('t'::regclass, ARRAY['p']) and the rewritten form
  // (CAST('t' AS regclass), array('p')) must parse
  private val addFilesRe = ("(?is)^CALL\\s+lake_iceberg\\." +
    "add_files_to_table\\s*\\(\\s*(?:CAST\\s*\\(\\s*)?'([\\w.]+)'" +
    "(?:\\s*::\\s*regclass|\\s+AS\\s+regclass\\s*\\))?" +
    "\\s*,\\s*ARRAY\\s*[\\[(](.*?)[\\])]\\s*\\)\\s*;?\\s*$").r
  private val optimizeRe = "(?is)^OPTIMIZE\\s+(\\w+)\\s*;?\\s*$".r
  private val dropTableRe =
    "(?is)^DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?(\\w+)\\s*;?\\s*$".r
  private val alterAddRe =
    ("(?is)^ALTER\\s+TABLE\\s+(\\w+)\\s+ADD\\s+COLUMN\\s+(\\w+)\\s+" +
      "([\\w(), ]+?)(?:\\s+DEFAULT\\s+(.+?))?\\s*;?\\s*$").r
  // CREATE DOMAIN name AS type [DEFAULT expr] [CHECK (expr)] — tail
  // parsed manually (DEFAULT/CHECK order per PG's grammar)
  private val createDomainRe =
    "(?is)^CREATE\\s+DOMAIN\\s+(\\w+)\\s+AS\\s+(.+?)\\s*;?\\s*$".r
  private val dropDomainRe =
    "(?is)^DROP\\s+DOMAIN\\s+(IF\\s+EXISTS\\s+)?(\\w+)\\s*;?\\s*$".r
  // CREATE TABLE child (cols|LIKE p|) INHERITS (parent)
  private val createInheritsRe =
    ("(?is)^CREATE\\s+TABLE\\s+(\\w+)\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)" +
      "\\s+INHERITS\\s*\\(\\s*(\\w+)\\s*\\)" +
      "(?:\\s+USING\\s+\\w+)?(?:\\s+LOCATION\\s+'([^']*)')?\\s*;?\\s*$").r
  private val alterInheritRe =
    "(?is)^ALTER\\s+TABLE\\s+(\\w+)\\s+(NO\\s+)?INHERIT\\s+(\\w+)\\s*;?\\s*$".r
  // declarative range partitioning (parent is virtual; children are
  // lake tables with [from, to) bounds or DEFAULT)
  private val createPartParentRe =
    ("(?is)^CREATE\\s+TABLE\\s+(\\w+)\\s*\\(((?:[^()]|\\([^()]*\\))+)\\)" +
      "\\s+PARTITION\\s+BY\\s+RANGE\\s*\\(\\s*(\\w+)\\s*\\)\\s*;?\\s*$").r
  private val createPartChildRe =
    ("(?is)^CREATE\\s+TABLE\\s+(\\w+)\\s+PARTITION\\s+OF\\s+(\\w+)\\s+" +
      "(?:FOR\\s+VALUES\\s+FROM\\s*\\(([^()]*)\\)\\s*TO\\s*\\(([^()]*)\\)" +
      "|(DEFAULT))" +
      "(?:\\s+USING\\s+\\w+)?(?:\\s+LOCATION\\s+'([^']*)')?\\s*;?\\s*$").r

  // CREATE TABLE t (LIKE other) [USING iceberg] [LOCATION '...']
  private val createLikeRe =
    ("(?is)^CREATE\\s+TABLE\\s+(\\w+)\\s*\\(\\s*LIKE\\s+(\\w+)\\s*\\)" +
      "(?:\\s+USING\\s+\\w+)?(?:\\s+LOCATION\\s+'([^']*)')?\\s*;?\\s*$").r
  // explicit-schema CREATE TABLE (no AS SELECT, no load_from)
  private val createColsRe =
    ("(?is)^CREATE\\s+TABLE\\s+(\\w+)\\s*\\(((?:[^()]|\\([^()]*\\))+)\\)" +
      "(?:\\s+USING\\s+\\w+)?" +
      "(?:\\s+PARTITIONED\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\))?" +
      "(?:\\s+LOCATION\\s+'([^']*)')?" +
      "(?:\\s+WITH\\s*\\(([^()]*)\\))?\\s*;?\\s*$").r
  private val alterRenameRe =
    "(?is)^ALTER\\s+TABLE\\s+(\\w+)\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)\\s*;?\\s*$".r
  private val alterDropRe =
    "(?is)^ALTER\\s+TABLE\\s+(\\w+)\\s+DROP\\s+COLUMN\\s+(\\w+)\\s*;?\\s*$".r
  private val alterSetPartRe =
    "(?is)^ALTER\\s+TABLE\\s+(\\w+)\\s+SET\\s+PARTITIONED\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)\\s*;?\\s*$".r
  private val alterClusterRe =
    "(?is)^ALTER\\s+TABLE\\s+(\\w+)\\s+CLUSTER\\s+BY\\s*\\(([^()]*)\\)\\s*;?\\s*$".r
}

object LakeEngine {
  def apply(spark: SparkSession): LakeEngine = new LakeEngine(spark)

  /** `lake.version()` surface (the reference extension's version
    * function).
    */
  val Version = "graft 0.12"

  /** Fresh working directory for ephemeral tables — TEST/driver-local
    * convenience only. Engine statement paths never use it: default
    * table locations come from [[defaultTableLocation]] (under the
    * warehouse dir) and transient write staging from
    * [[stagingLocation]] (a cluster-visible filesystem), because a
    * driver-local `/tmp` is not the executors' `/tmp` on a real
    * cluster.
    */
  def tempLocation(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** `file:` URIs normalize to plain local paths (identical java.nio
    * behavior to the pre-warehouse default); any other scheme is kept
    * verbatim for the Hadoop FileSystem layer.
    */
  private def normalizeDir(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    if (u.getScheme == "file" && (u.getAuthority == null ||
      u.getAuthority.isEmpty)) u.getPath
    else p
  }

  /** Root for transient write staging (partitioned-INSERT routing,
    * COPY-to-object-store assembly): `graft.staging.dir` session conf
    * when set, else `<spark.sql.warehouse.dir>/_graft_staging`. Must
    * be a filesystem EVERY executor can reach — executors write the
    * staged parquet and the driver (or later tasks) read it back, so
    * a driver-local temp dir would silently stage per-machine on a
    * real cluster.
    */
  def stagingRoot(spark: SparkSession): String =
    normalizeDir(spark.conf.getOption("graft.staging.dir").getOrElse(
      spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/_graft_staging"))

  /** Persistent queue of table trees committed transactional DROPs
    * left for VACUUM (the reference keeps a dropped table's data and
    * metadata until vacuum — test_iceberg_in_tx.py:560-586): one
    * tombstone file per dropped table, written on the COMMIT success
    * path, processed by any engine's maintain()/VACUUM over the same
    * warehouse. Lives OUTSIDE [[stagingRoot]] so the grace-bounded
    * staging sweep never reclaims an unprocessed tombstone.
    */
  def droppedQueueDir(spark: SparkSession): String =
    normalizeDir(spark.conf.getOption("graft.dropped.dir").getOrElse(
      spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/_graft_dropped"))

  private[graft] def queueDroppedTree(spark: SparkSession,
      location: String): Unit = {
    val dir = droppedQueueDir(spark)
    graft.lake.LakeFs.mkdirs(dir)
    graft.lake.LakeFs.writeAtomic(
      graft.lake.LakeFs.child(dir,
        s"dropped-${java.util.UUID.randomUUID()}.json"),
      location.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Fresh unique staging directory under [[stagingRoot]]. */
  def stagingLocation(spark: SparkSession, prefix: String): String = {
    val dir = stagingRoot(spark).stripSuffix("/") +
      s"/$prefix-${java.util.UUID.randomUUID()}"
    graft.lake.LakeFs.mkdirs(stagingRoot(spark))
    dir
  }

  /** Default location for a managed table created without LOCATION
    * (CTAS, CREATE TABLE, materialized views): a unique directory
    * under the warehouse dir — the cluster-shared place Spark managed
    * tables live — never a driver-local temp dir.
    */
  def defaultTableLocation(spark: SparkSession, name: String): String =
    normalizeDir(spark.conf.get("spark.sql.warehouse.dir"))
      .stripSuffix("/") +
      // the name segment is URL-encoded like the reference's default
      // location (create_table.c:1717 URLEncodePath(tableName)) so a
      // quoted identifier with spaces/& stays a clean object key
      s"/${lake.UrlEncode.path(name.toLowerCase)}_" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Spark type → PG spelling (the inverse of the `columns = {}`
    * contract; SURVEY §1.2 storage conventions). Struct columns get a
    * deterministic generated name like the reference's
    * `lake_struct.<fields>_<hash>` (describe.c's generated composite
    * types).
    */
  def pgTypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ShortType => "smallint"
      case IntegerType => "integer"
      case LongType => "bigint"
      case FloatType => "real"
      case DoubleType => "double precision"
      case BooleanType => "boolean"
      case StringType => "text"
      case BinaryType => "bytea"
      case DateType => "date"
      case TimestampNTZType => "timestamp without time zone"
      case TimestampType => "timestamp with time zone"
      case d: DecimalType => s"numeric(${d.precision},${d.scale})"
      case ArrayType(e, _) => s"${pgTypeOf(e)}[]"
      case MapType(k, v, _) => s"map(${pgTypeOf(k)},${pgTypeOf(v)})"
      case s: StructType =>
        val names = s.fieldNames.mkString("_")
        val h = Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(s.catalogString))
        s"lake_struct.${names}_$h"
      case other => other.typeName
    }
  }
}

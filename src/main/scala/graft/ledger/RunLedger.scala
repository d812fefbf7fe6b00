package graft.ledger

import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.catalog.DriverParquet
import graft.model._

/** The run ledger — the reference's real "output" (SURVEY §1.2): one row
  * per level-run with 5 timestamps + 4 flags, message/error/query logs,
  * and a denormalized `Json_Log` copy of every row.
  *
  * Spark-native re-expression of `Helper.cs:2312-2672`: instead of
  * UPDATE-in-place + Json_Log regeneration per change, the ledger is an
  * append-only event store (every change appends the full row with a
  * bumped `seq`); [[latest]] reduces to current state with one window,
  * and `Json_Log` is `to_json(struct(*))` computed in the view — at
  * 100 TB that is an append-only parquet/Delta table partitioned by day
  * + a compacted latest view, never a driver-side row update.
  *
  * Id assignment and event buffering are driver-side (the control plane
  * is tiny relative to the data plane — the reference runs it through a
  * single MSSQL connection for the same reason). `clock` is injectable
  * so tests and oracle-checked e2e runs are deterministic.
  */
final class RunLedger(clock: () => LocalDateTime = () => LocalDateTime.now()) {

  private val nextId = new AtomicLong(1L)
  private val runEvents = mutable.ArrayBuffer.empty[RunRow]
  private val currentRows = mutable.LinkedHashMap.empty[Long, RunRow]
  private val messages = mutable.ArrayBuffer.empty[MessageRow]
  private val errors = mutable.ArrayBuffer.empty[ErrorRow]
  private val queries = mutable.ArrayBuffer.empty[QueryRow]
  private val plans = mutable.LinkedHashMap.empty[Long, PlanRow]

  /** `InitializeLogging` (`Helper.cs:2312-2479`): insert the level row
    * with `Anforderungszeitpunkt`, flags 0, and return the new id.
    */
  def start(
      level: String,
      refId: Long,
      workflowRunId: Option[Long] = None,
      paketRunId: Option[Long] = None,
      umsetzungRunId: Option[Long] = None,
      zeitplanAusfuehrungenId: Option[Long] = None,
      parallelsperre: Boolean = false): Long = synchronized {
    require(RunLevel.all.contains(level), s"unknown run level: $level")
    val id = nextId.getAndIncrement()
    val row = RunRow(
      level = level, id = id, seq = 0, refId = refId,
      workflowRunId = workflowRunId, paketRunId = paketRunId,
      umsetzungRunId = umsetzungRunId,
      zeitplanAusfuehrungenId = zeitplanAusfuehrungenId,
      anforderungszeitpunkt = clock(),
      startzeitpunkt = None, ausfuehrungsstartzeitpunkt = None,
      ausfuehrungsendzeitpunkt = None, endzeitpunkt = None,
      istGestartet = false, istAbgeschlossen = false, erfolgreich = false,
      parallelsperre = parallelsperre, erwarteteDaten = None)
    runEvents += row
    currentRows(id) = row
    id
  }

  /** `UpdateLog` (`Helper.cs:2492-2672`): apply a change to the current
    * state and append it as a new version.
    */
  def update(id: Long)(change: RunRow => RunRow): Unit = synchronized {
    val cur = currentRows.getOrElse(id,
      throw new IllegalArgumentException(s"no ledger row with id $id"))
    val next = change(cur).copy(id = cur.id, level = cur.level, seq = cur.seq + 1)
    runEvents += next
    currentRows(id) = next
  }

  // -- lifecycle shorthands matching the reference's 5-timestamp protocol
  def markStarted(id: Long): Unit =
    update(id)(r => r.copy(startzeitpunkt = Some(clock()), istGestartet = true))
  def markExecuting(id: Long): Unit =
    update(id)(r => r.copy(ausfuehrungsstartzeitpunkt = Some(clock())))
  def markExecuted(id: Long): Unit =
    update(id)(r => r.copy(ausfuehrungsendzeitpunkt = Some(clock())))
  def markFinished(id: Long, success: Boolean): Unit =
    update(id)(r => r.copy(endzeitpunkt = Some(clock()),
      istAbgeschlossen = true, erfolgreich = success))
  def recordExpectedRows(id: Long, rows: Long): Unit =
    update(id)(r => r.copy(erwarteteDaten = Some(rows)))

  /** `Log` → `Logging.ETL_Meldungen` (`Helper.cs:1809-2010`). */
  def message(
      text: String,
      workflowRunId: Option[Long] = None, paketRunId: Option[Long] = None,
      umsetzungRunId: Option[Long] = None, schrittRunId: Option[Long] = None): Unit =
    synchronized {
      messages += MessageRow(nextId.getAndIncrement(), workflowRunId,
        paketRunId, umsetzungRunId, schrittRunId, text, clock())
    }

  /** `ErrorLog` → `Logging.ETL_Fehlermeldungen` (`Helper.cs:2027-2262`). */
  def error(
      fehlertyp: String, schweregrad: String, text: String,
      stacktrace: Option[String] = None,
      workflowRunId: Option[Long] = None, paketRunId: Option[Long] = None,
      umsetzungRunId: Option[Long] = None, schrittRunId: Option[Long] = None): Unit =
    synchronized {
      require(Seq(ErrorRow.TypDienst, ErrorRow.TypSql, ErrorRow.TypWorkflow).contains(fehlertyp),
        s"Fehlertyp CHECK violation: $fehlertyp")
      errors += ErrorRow(nextId.getAndIncrement(), workflowRunId, paketRunId,
        umsetzungRunId, schrittRunId, fehlertyp, schweregrad, text, stacktrace, clock())
    }

  /** `LogQuery` → `Logging.ETL_SQL_Anfragen` (`Helper.cs:1583-1743`). */
  def logQuery(sql: String, schrittRunId: Option[Long] = None,
      konfigurationenId: Option[Long] = None): Unit = synchronized {
    queries += QueryRow(nextId.getAndIncrement(), schrittRunId, konfigurationenId, sql, clock())
  }

  // -- planned executions (`pc.ETL_Zeitplan_Ausfuehrungen`)

  /** Materialize one planned execution (`Scheduler.cs` insert). */
  def planExecution(workflowId: Int, zeitplanId: Int,
      plannedAt: LocalDateTime): Long = synchronized {
    val id = nextId.getAndIncrement()
    plans(id) = PlanRow(id, workflowId, zeitplanId, plannedAt,
      ausgefuehrt = false, letzteAenderung = clock())
    id
  }

  /** Flip a consumed plan to `Ausgefuehrt = 1` (run started). */
  def markPlanExecuted(id: Long): Unit = synchronized {
    plans.get(id).foreach(p =>
      plans(id) = p.copy(ausgefuehrt = true, letzteAenderung = clock()))
  }

  /** Service start/stop recovery (`Worker.cs:45-51` / `StopAsync`):
    * `UPDATE pc.ETL_Zeitplan_Ausfuehrungen SET Ausgefuehrt = 1 WHERE
    * Ausgefuehrt = 0` — neutralize every stale open plan so it can never
    * fire; the scheduler re-plans from the calculus. Returns the count.
    */
  def neutralizeOpenPlans(): Int = synchronized {
    val open = plans.values.filterNot(_.ausgefuehrt).toSeq
    open.foreach(p =>
      plans(p.id) = p.copy(ausgefuehrt = true, letzteAenderung = clock()))
    open.size
  }

  def openPlans: Seq[PlanRow] = synchronized(plans.values.filterNot(_.ausgefuehrt).toSeq)
  def allPlans: Seq[PlanRow] = synchronized(plans.values.toSeq)

  /** Reload persisted plan state (service restart — the reference's
    * plans live in MSSQL so they survive the process; ours re-seed from
    * the persisted parquet) and advance the id sequence past every id
    * already persisted under `dir`: plans and the appended run rows,
    * messages, errors and queries of every earlier life, which share the
    * one sequence (past plan ids alone, a second life would reissue the
    * first life's run ids, and the persisted history would merge two
    * runs under one id). Reads on the driver ([[DriverParquet]]), no
    * Spark job; returns the number of plans reloaded.
    */
  def restorePlans(spark: SparkSession, dir: String): Int = {
    val path = s"$dir/zeitplan_ausfuehrungen"
    import spark.implicits._
    // A torn snapshot must not keep the service from booting (ADVICE
    // r5): fall back newest-complete-first across the swap's three
    // possible survivors — `__snapshot` (a fully-written side dir whose
    // move never completed; NEWER than `__old`) and then `__old` — and
    // finally an empty store: the scheduler loop re-plans from the
    // calculus either way, matching Worker.cs semantics.
    def tryRead(p: String): Option[Array[PlanRow]] =
      try {
        if (DriverParquet.files(spark, p).nonEmpty)
          Some(DriverParquet.table(spark, p).as[PlanRow].collect())
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    val rows = tryRead(path)
      .orElse(tryRead(s"${path}__snapshot"))
      .orElse(tryRead(s"${path}__old"))
      .getOrElse(Array.empty[PlanRow])
    // the tables [[persist]] appends; an unreadable one fails the start
    // loudly rather than let this life reissue its ids
    val idOnly = Some(StructType(Seq(StructField("id", LongType))))
    val persistedIds = Seq("run_events", "meldungen", "fehlermeldungen", "sql_anfragen").flatMap { t =>
      val p = s"$dir/$t"
      if (DriverParquet.files(spark, p).isEmpty) Nil
      else DriverParquet.rows(spark, p, idOnly).map(_.getLong(0))
    }
    synchronized {
      rows.foreach(p => plans(p.id) = p)
      val maxId = (plans.keys ++ persistedIds ++ Seq(0L)).max
      while (nextId.get() <= maxId) nextId.incrementAndGet()
      rows.length
    }
  }

  // -- snapshots (driver-side, for tests and small control planes)
  def events: Seq[RunRow] = synchronized(runEvents.toSeq)
  def current: Seq[RunRow] = synchronized(currentRows.values.toSeq)
  def currentOf(id: Long): Option[RunRow] = synchronized(currentRows.get(id))
  def allMessages: Seq[MessageRow] = synchronized(messages.toSeq)
  def allErrors: Seq[ErrorRow] = synchronized(errors.toSeq)
  def allQueries: Seq[QueryRow] = synchronized(queries.toSeq)

  // -- Spark views

  /** Full event history as a DataFrame. */
  def eventsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.toDF()
  }

  /** Current state per run id with the reference's `Json_Log`
    * denormalization: latest seq wins, `Json_Log = to_json(struct(*))`
    * over the business columns (`Helper.cs:2616-2670`).
    */
  def latest(spark: SparkSession): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("seq").desc)
    val base = eventsDf(spark)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    base.withColumn("json_log", to_json(struct(base.columns.map(col): _*)))
  }

  def messagesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allMessages.toDF()
  }

  def errorsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allErrors.toDF()
  }

  def queriesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allQueries.toDF()
  }

  /** Safe exit (`Helper.cs:2964-3140`): on unrecoverable shutdown, close
    * every open run row — end timestamps set, finished, NOT successful —
    * so the ledger never shows phantom in-flight runs after a crash.
    * Returns the number of rows closed.
    */
  def closeAllOpen(): Int = synchronized {
    val open = currentRows.values.filter(!_.istAbgeschlossen).toSeq
    open.foreach { r =>
      update(r.id)(x => x.copy(
        endzeitpunkt = Some(clock()), istAbgeschlossen = true, erfolgreich = false))
    }
    open.size
  }

  /** Persist the ledger (append-only) under `dir` — parquet per table,
    * the shape a cluster deployment would write per run.
    */
  def persist(spark: SparkSession, dir: String): Unit = {
    eventsDf(spark).write.mode("append").parquet(s"$dir/run_events")
    if (allMessages.nonEmpty)
      messagesDf(spark).write.mode("append").parquet(s"$dir/meldungen")
    if (allErrors.nonEmpty)
      errorsDf(spark).write.mode("append").parquet(s"$dir/fehlermeldungen")
    if (allQueries.nonEmpty)
      queriesDf(spark).write.mode("append").parquet(s"$dir/sql_anfragen")
    persistPlans(spark, dir)
  }

  /** Snapshot just the plan store. Plans are CURRENT-STATE (the
    * reference UPDATEs `pc.ETL_Zeitplan_Ausfuehrungen` in place in
    * MSSQL, where they survive a crash for free), so the snapshot
    * replaces the previous one and is cheap enough for the service
    * heartbeat to call — that heartbeat is what makes [[restorePlans]]
    * after a crash see the stale open rows `Worker.cs:45-51`
    * neutralizes.
    *
    * Crash-atomic (VERDICT r5 item 4): a plain `mode("overwrite")` is
    * delete-then-write, so a crash mid-heartbeat would destroy the very
    * file restart recovery needs. [[graft.util.AtomicSwap.swapInto]]
    * (shared with `Warehouse.rewriteInPlace`) guarantees a readable
    * copy among target / `__snapshot` / `__old` through every crash
    * window, and [[restorePlans]] falls back across exactly those.
    * Serialized on a dedicated lock: the service's shutdown hook and
    * heartbeat both persist, and two threads interleaving the rename
    * dance (or writing the same side dir) would corrupt the snapshot —
    * a dedicated lock so a slow parquet write never blocks regular
    * ledger logging.
    */
  def persistPlans(spark: SparkSession, dir: String): Unit =
    snapshotLock.synchronized {
      val rows = allPlans
      if (rows.nonEmpty) {
        import spark.implicits._
        graft.util.AtomicSwap.swapInto(s"$dir/zeitplan_ausfuehrungen", "__snapshot") { tmp =>
          rows.toDS().write.mode("overwrite").parquet(tmp)
        }
      }
    }

  private val snapshotLock = new Object
}

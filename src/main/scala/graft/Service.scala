package graft

import java.time.LocalDateTime

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.SparkSession

import graft.catalog.{ConfigAssembly, DriverParquet, Tables, Warehouse}
import graft.ledger.RunLedger
import graft.macros.Macros
import graft.model._
import graft.orchestrate._
import graft.steps.StepContext

/** The service host — the engine-side `DIZService.Worker/Program.cs` +
  * `Worker.cs` (SURVEY §3.1 stages 1-5): build the engine, load the
  * control-plane config, run the scheduler poll loop, execute due
  * workflows, close the ledger safely on shutdown.
  *
  * `main` runs the real clock loop; [[Engine]] is the testable core
  * with injectable clock/ticks. Config tables load from a parquet
  * directory written by [[ConfigWriter]]-style tooling (the stand-in
  * for the reference's MSSQL `pc` schema).
  */
object Service {

  final class Engine(
      spark: SparkSession,
      dataDir: String,
      warehouseDir: String,
      cfg: ConfigSet,
      schedules: Map[Int, Int], // workflowId -> zeitplanId
      clock: () => LocalDateTime = () => LocalDateTime.now(),
      /** Result-mail delivery (`Helper.cs:422-595`); the sandbox default
        * records the send decision in the ledger without SMTP.
        */
      mailer: graft.report.Mailer = graft.report.Mailer.NoOp,
      /** Prior run's ledger dir: when set, [[start]] reloads the plan
        * store, neutralizes stale open plans (`Worker.cs:45-51`) and
        * continues the id sequence past every id persisted there.
        */
      restoreDir: Option[String] = None)(implicit ec: ExecutionContext) {

    val ledger = new RunLedger(clock)
    private val manager = new WorkflowManager
    private val warehouse = new Warehouse(warehouseDir)
    /** `conf.Konfigurationsparameter`-driven knobs — the global step
      * thread cap is `Anzahl_ETL_Threads` like the reference
      * (`Processor.cs:66`), no longer a hardcoded constant.
      */
    val params: ConfigAssembly.ServiceParams = ConfigAssembly.serviceParams(cfg)
    private val runner = new WorkflowRunner(
      manager, ledger, new Gates.ThreadCap(math.max(1, params.anzahlEtlThreads)),
      new Gates.TableLocks, new Gates.ParallelLocks, clock)

    val loop = new SchedulerLoop(manager, (workflowId, zid, _) => {
      val spec = ConfigAssembly.workflowSpec(workflowId, cfg)
      val result = runner.run(spec, zid,
        (m: Macros.Context, stepRunId: Option[Long], real: RealizationSpec) =>
          StepContext(spark, ConfigAssembly.warehouseFor(real, warehouse), ledger, m,
            schrittRunId = stepRunId, konfigurationenId = real.konfigurationenId,
            sourceSpec = real.connections.map(_.source),
            // the run's request time, stamped on every row the step writes
            abfragezeitpunkt = m.belegungszeit.getOrElse(clock())))
      // result-mail dispatch (`Workflow.cs:1296-1340` / Abort `1560-1605`):
      // select recipients per Nur_Fehler/CC, render the report, deliver
      // through the Mailer boundary, record the send decision in the
      // ledger; a delivery failure error-logs but never fails the run
      // (`Helper.cs:580-595`)
      val rcpt = graft.report.MailReport.recipients(
        cfg.emailVerteiler, workflowId, result.success)
      if (graft.report.MailReport.shouldSend(result.success, rcpt) &&
          (rcpt.to.nonEmpty || rcpt.cc.nonEmpty)) {
        val report = graft.report.MailReport.render(ledger, result.workflowRunId)
        val subject = s"ETL Workflow $workflowId " +
          (if (result.success) "erfolgreich" else "fehlgeschlagen")
        try mailer.send(graft.report.Mailer.Mail(rcpt.to, rcpt.cc, subject, report,
          graft.report.MailReport.renderHtml(report)))
        catch {
          case scala.util.control.NonFatal(e) => ledger.error(
            ErrorRow.TypDienst, ErrorRow.SeverityMinor,
            s"Mailversand fehlgeschlagen: ${e.getMessage}",
            workflowRunId = Some(result.workflowRunId))
        }
        ledger.message(
          s"result mail to=[${rcpt.to.mkString(",")}] cc=[${rcpt.cc.mkString(",")}]: " +
            report.linesIterator.next(),
          workflowRunId = Some(result.workflowRunId))
      }
      ()
    }, ledger = Some(ledger))

    def start(): Unit = {
      Tables.registerAll(spark, dataDir)
      // restart recovery (`Worker.cs:45-51`): reload the persisted plan
      // store, then neutralize every still-open plan — a crashed
      // service's stale plans must never fire; the loop re-plans fresh
      restoreDir.foreach { d =>
        val reloaded = ledger.restorePlans(spark, d)
        val stale = ledger.neutralizeOpenPlans()
        if (reloaded > 0) ledger.message(
          s"restart recovery: $reloaded plans reloaded, $stale stale neutralized")
      }
      schedules.foreach { case (wfId, zeitplanId) =>
        val z = cfg.zeitplaene.find(_.etlZeitplaeneId == zeitplanId)
          .getOrElse(throw new IllegalArgumentException(s"no zeitplan $zeitplanId"))
        loop.register(wfId, ConfigAssembly.schedule(z), zeitplanId)
      }
    }

    def tick(now: LocalDateTime): Seq[Int] = loop.tick(now)

    /** Safe exit (`Helper.cs:2964-3140` + `Worker.cs` `StopAsync`): close
      * open ledger rows, neutralize open plans, persist the run history.
      */
    def shutdown(ledgerDir: Option[String]): Int = {
      ledger.neutralizeOpenPlans()
      val closed = ledger.closeAllOpen()
      ledgerDir.foreach(d => ledger.persist(spark, d))
      closed
    }
  }

  /** Load the control-plane snapshot from a parquet config directory
    * (one file or part-file directory per table, named like the model
    * rows). The tables are kilobytes: each is read on the driver by
    * [[DriverParquet.table]] into a local DataFrame, so the whole load,
    * backfill and collect included, runs no Spark job. A missing table,
    * or one with no data files, loads empty.
    *
    * Snapshot-compat: Spark encoders do NOT apply case-class defaults,
    * so a pre-r10 snapshot whose parquet lacks a column added later
    * (e.g. `PaketUmsetzungRow.istAktiv`) would fail analysis under a
    * bare `.as[T]` and brick service startup (ADVICE r10 medium).
    * Missing columns are backfilled here before `.as[T]`: an explicit
    * literal for non-nullable fields with model defaults, a typed NULL
    * for `Option` fields. A missing non-nullable field without a
    * registered default still fails — loudly, naming the column.
    */
  def loadConfig(spark: SparkSession, configDir: String): ConfigSet = {
    import spark.implicits._
    import org.apache.spark.sql.{Column, Encoder}
    import org.apache.spark.sql.functions.{col, lit}
    // model defaults for columns added after the first snapshot shape
    // (keep in sync with ConfigModel's `= …` field defaults)
    val columnDefaults: Map[String, Map[String, Column]] = Map(
      "umsetzungen" -> Map("umsetzungsname" -> lit("")),
      "paket_umsetzungen" -> Map("istAktiv" -> lit(true)),
      "umsetzung_schritte" -> Map("istAktiv" -> lit(true)))
    def load[T](name: String)(implicit enc: Encoder[T]): Seq[T] = {
      val p = s"$configDir/$name"
      if (DriverParquet.files(spark, p).isEmpty) Seq.empty
      else {
        val raw = DriverParquet.table(spark, p)
        val have = raw.columns.toSet
        val defaults = columnDefaults.getOrElse(name, Map.empty)
        val cols = enc.schema.fields.map { f =>
          if (have(f.name)) col(f.name)
          else if (defaults.contains(f.name)) defaults(f.name).cast(f.dataType).as(f.name)
          else if (f.nullable) lit(null).cast(f.dataType).as(f.name)
          else throw new IllegalStateException(
            s"config snapshot $p lacks non-nullable column ${f.name} and no " +
              "default is registered in Service.loadConfig")
        }
        raw.select(cols.toIndexedSeq: _*).as[T].collect().toSeq
      }
    }
    ConfigSet(
      workflows = load[WorkflowRow]("workflows"),
      pakete = load[PaketRow]("pakete"),
      abhaengigkeiten = load[AbhaengigkeitRow]("abhaengigkeiten"),
      umsetzungen = load[UmsetzungRow]("umsetzungen"),
      paketUmsetzungen = load[PaketUmsetzungRow]("paket_umsetzungen"),
      schritte = load[SchrittRow]("schritte"),
      umsetzungSchritte = load[UmsetzungSchrittRow]("umsetzung_schritte"),
      zeitplaene = load[ZeitplanRow]("zeitplaene"),
      schrittParameter = load[SchrittParameterRow]("schritt_parameter"),
      emailVerteiler = load[EmailVerteilerRow]("email_verteiler"),
      konfigurationsparameter =
        load[KonfigurationsparameterRow]("konfigurationsparameter"),
      // tenant-connection model: the Spec ADT is not parquet-encodable,
      // so connections snapshot as the flat reference-DDL shape and
      // resolve to Spec variants here — without these three tables a
      // deployed service could never reach the per-tenant routing
      konfigurationen = load[KonfigurationRow]("konfigurationen"),
      mandantenVerbindungen = load[MandantVerbindungRow]("mandanten_verbindungen"),
      datenverbindungen =
        load[DatenverbindungFlatRow]("datenverbindungen").map(_.toRow))
  }

  /** `graft.Service <configDir> <dataDir> <warehouseDir> <ledgerDir>`:
    * 10 s poll loop until SIGTERM; every active workflow with a
    * zeitplan runs on its schedule.
    */
  def main(args: Array[String]): Unit = {
    val (configDir, dataDir, warehouseDir, ledgerDir) = args match {
      case Array(c, d, w, l) => (c, d, w, l)
      case other =>
        // a usage message, not a MatchError (r10 review)
        System.err.println(
          s"usage: graft.Service <configDir> <dataDir> <warehouseDir> <ledgerDir> " +
            s"(got ${other.length} arguments)")
        sys.exit(2)
    }
    implicit val ec: ExecutionContext = ExecutionContext.global
    val spark = Sessions.local()
    val cfg = loadConfig(spark, configDir)
    val schedules = cfg.workflows.filter(_.istAktiv)
      .map(w => w.etlWorkflowId -> w.etlZeitplaeneId).toMap
    val engine = new Engine(spark, dataDir, warehouseDir, cfg, schedules,
      restoreDir = Some(ledgerDir))
    engine.start()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    // the hook QUIESCES before closing (r10 review): shutdown used to
    // run concurrently with an in-flight tick, so run rows the still-
    // executing workflow opened after closeAllOpen could be persisted as
    // open — the exact phantom rows safe exit exists to prevent (the
    // reference's StopAsync waits for the processor loop the same way,
    // `Helper.cs:2964-3140`). The poll thread signals idleness after
    // every tick; the hook waits for it (bounded — a wedged workflow
    // must not block process death indefinitely).
    val idle = new java.util.concurrent.Semaphore(0)
    sys.addShutdownHook {
      running.set(false)
      idle.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS)
      engine.shutdown(Some(ledgerDir))
      ()
    }
    // scheduler heartbeat, throttled by `LogInterval`
    // (`Processor.cs:1142,1229-1243`: log only in debug or when the
    // interval since the last scheduler message has passed)
    var lastHeartbeat = LocalDateTime.now()
    while (running.get()) {
      val now = LocalDateTime.now()
      engine.tick(now)
      if (engine.params.debug ||
          java.time.Duration.between(lastHeartbeat, now).toMinutes >=
            engine.params.logIntervalMinutes) {
        engine.ledger.message("scheduler alive")
        // snapshot the tiny plan store so a crash leaves the stale open
        // rows for the next start's Worker.cs:45-51 neutralization
        engine.ledger.persistPlans(spark, ledgerDir)
        lastHeartbeat = now
      }
      // tick finished — if shutdown is waiting, hand over NOW (idle
      // between ticks); otherwise sleep in 200 ms slices so a SIGTERM
      // during the sleep is also picked up promptly
      if (!running.get()) idle.release()
      else {
        var slept = 0
        while (running.get() && slept < 10000) { Thread.sleep(200); slept += 200 }
        if (!running.get()) idle.release()
      }
    }
  }
}

package graft

import java.time.LocalDateTime

import scala.concurrent.ExecutionContext

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.steps.{CommandType, TaskType}
import graft.testkit.SparkSupport

/** The full service host driven tick-by-tick: config loaded from
  * parquet, workflows scheduled and executed, ledger persisted on
  * shutdown — the reference's Worker loop end-to-end.
  */
class ServiceSpec extends AnyFunSuite with SparkSupport {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def writeConfig(dir: String): Unit = {
    import spark.implicits._
    val cfg = ConfigSet(
      workflows = Seq(WorkflowRow(1, 100, 10L, None, "svc-wf",
        uebernahmeVon = Some(LocalDateTime.of(1990, 1, 1, 0, 0)),
        uebernahmeBis = Some(LocalDateTime.of(1999, 1, 1, 0, 0)),
        uebernahmeTageRueckwirkend = None, parallelsperre = false, istAktiv = true)),
      pakete = Seq(PaketRow(10L, "svc-pkg", parallelsperre = false, istAktiv = true)),
      abhaengigkeiten = Seq.empty,
      umsetzungen = Seq(UmsetzungRow(100L, 1, Some(1L), parallelsperre = false, istAktiv = true)),
      paketUmsetzungen = Seq(PaketUmsetzungRow(1, 10L, 100L, 1, None)),
      schritte = Seq(SchrittRow(1000L, "copy-regions", TaskType.Sql, CommandType.Copy,
        "SELECT r_regionkey, r_name FROM region",
        zieltabelle = Some("regions_svc"), quelltabelle = Some("region"),
        parallelsperre = false, zeitscheibe = false, istAktiv = true)),
      umsetzungSchritte = Seq(UmsetzungSchrittRow(100L, 1000L, 1)),
      zeitplaene = Seq(ZeitplanRow(100, LocalDateTime.of(2026, 3, 1, 9, 0), None,
        "Minute", "09:00:00", 0, 0, anJedemTag = true, inJedemMonat = true,
        wochentage = Seq.empty, monate = Seq.empty, wocheDesMonats = 0,
        monatsletzter = false, sofortAusfuehrung = false)),
      emailVerteiler = Seq(
        EmailVerteilerRow(1, "ops@example", nurFehler = false, cc = false, istAktiv = true),
        EmailVerteilerRow(1, "err@example", nurFehler = true, cc = false, istAktiv = true)))
    cfg.workflows.toDS().write.mode("overwrite").parquet(s"$dir/workflows")
    cfg.pakete.toDS().write.mode("overwrite").parquet(s"$dir/pakete")
    cfg.umsetzungen.toDS().write.mode("overwrite").parquet(s"$dir/umsetzungen")
    cfg.paketUmsetzungen.toDS().write.mode("overwrite").parquet(s"$dir/paket_umsetzungen")
    cfg.schritte.toDS().write.mode("overwrite").parquet(s"$dir/schritte")
    cfg.umsetzungSchritte.toDS().write.mode("overwrite").parquet(s"$dir/umsetzung_schritte")
    cfg.zeitplaene.toDS().write.mode("overwrite").parquet(s"$dir/zeitplaene")
    cfg.emailVerteiler.toDS().write.mode("overwrite").parquet(s"$dir/email_verteiler")
  }

  test("service loop: parquet config -> scheduled execution per tick -> persisted ledger on shutdown") {
    val configDir = tmpDir("svc-cfg")
    val warehouseDir = tmpDir("svc-wh")
    val ledgerDir = tmpDir("svc-ledger")
    writeConfig(configDir)

    val cfg = Service.loadConfig(spark, configDir)
    assert(cfg.workflows.size == 1 && cfg.zeitplaene.size == 1)

    var now = LocalDateTime.of(2026, 3, 2, 9, 0, 55)
    val engine = new Service.Engine(spark, "/root/testdata/sf0.001", warehouseDir,
      cfg, Map(1 -> 100), clock = () => now)
    engine.start()

    // tick at 09:00:55: the next minutely slot (09:01:00) is within the
    // 10 s horizon → due
    assert(engine.tick(now) == Seq(1))
    val copied = spark.read.parquet(s"$warehouseDir/regions_svc")
    assert(copied.count() == 5)
    // every copied row carries the run's request time as its audit stamp
    assert(copied.select("abfragezeitpunkt").distinct().collect()
      .map(_.getAs[LocalDateTime](0)).toSeq == Seq(now))

    // tick mid-minute: the next slot (09:02:00) is out of the horizon
    now = LocalDateTime.of(2026, 3, 2, 9, 1, 10)
    assert(engine.tick(now).isEmpty)
    // just before the next slot: due again (appends)
    now = LocalDateTime.of(2026, 3, 2, 9, 1, 55)
    assert(engine.tick(now) == Seq(1))
    assert(spark.read.parquet(s"$warehouseDir/regions_svc").count() == 10)

    // result mail recorded per run: success skips the Nur_Fehler recipient
    val mails = engine.ledger.allMessages.filter(_.meldungstext.startsWith("result mail"))
    assert(mails.size == 2)
    assert(mails.forall(m => m.meldungstext.contains("ops@example") &&
      !m.meldungstext.contains("err@example")))

    // shutdown persists the ledger; all rows closed
    val closed = engine.shutdown(Some(ledgerDir))
    assert(closed == 0) // nothing in flight
    val events = spark.read.parquet(s"$ledgerDir/run_events")
    assert(events.filter("level = 'workflow'").select("id").distinct().count() == 2)
  }

  test("loadConfig backfills columns a pre-r10 snapshot lacks (ADVICE r10: encoders don't apply case-class defaults)") {
    import spark.implicits._
    val dir = tmpDir("svc-compat-cfg")
    writeConfig(dir)
    // rewrite three tables in the pre-r10 snapshot shape: the columns
    // added later (istAktiv / etlWorkflowId / umsetzungsname) are absent
    def dropCols(table: String, cols: String*): Unit = {
      spark.read.parquet(s"$dir/$table").drop(cols: _*)
        .write.mode("overwrite").parquet(s"$dir/${table}_slim")
      val f = new java.io.File(s"$dir/$table")
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); ()
      }
      rm(f)
      assert(new java.io.File(s"$dir/${table}_slim").renameTo(f))
    }
    dropCols("paket_umsetzungen", "istAktiv")
    dropCols("umsetzung_schritte", "etlWorkflowId", "istAktiv")
    dropCols("umsetzungen", "umsetzungsname")
    val cfg = Service.loadConfig(spark, dir)
    assert(cfg.paketUmsetzungen.nonEmpty && cfg.paketUmsetzungen.forall(_.istAktiv),
      "missing istAktiv must default true, not fail analysis")
    assert(cfg.umsetzungSchritte.nonEmpty &&
      cfg.umsetzungSchritte.forall(r => r.istAktiv && r.etlWorkflowId.isEmpty))
    assert(cfg.umsetzungen.nonEmpty && cfg.umsetzungen.forall(_.umsetzungsname == ""))
  }

  test("result mail delivers through the Mailer: failure reaches Nur_Fehler recipients, success does not") {
    val configDir = tmpDir("svc-mail-cfg")
    writeConfig(configDir)
    val cfg0 = Service.loadConfig(spark, configDir)
    var now = LocalDateTime.of(2026, 3, 2, 9, 0, 55)

    // run 1: the configured workflow succeeds — err@example (Nur_Fehler)
    // must NOT be a recipient, ops@example must
    val okMailer = new graft.report.Mailer.Recording
    val okEngine = new Service.Engine(spark, "/root/testdata/sf0.001", tmpDir("svc-mail-wh"),
      cfg0, Map(1 -> 100), clock = () => now, mailer = okMailer)
    okEngine.start()
    assert(okEngine.tick(now) == Seq(1))
    assert(okMailer.sent.size == 1)
    val ok = okMailer.sent.head
    assert(ok.subject == "ETL Workflow 1 erfolgreich")
    assert(ok.to == Seq("ops@example") && !ok.to.contains("err@example"))
    assert(ok.bodyText.contains("ERFOLGREICH"))
    assert(ok.bodyHtml.startsWith("<html>"))

    // run 2: break the step (bad SQL) — the failure mail goes to BOTH
    // recipients including the error-only one
    val cfgBad = cfg0.copy(schritte = cfg0.schritte.map(_.copy(
      befehl = "SELECT * FROM no_such_table")))
    val badMailer = new graft.report.Mailer.Recording
    val badEngine = new Service.Engine(spark, "/root/testdata/sf0.001", tmpDir("svc-mail-wh2"),
      cfgBad, Map(1 -> 100), clock = () => now, mailer = badMailer)
    badEngine.start()
    assert(badEngine.tick(now) == Seq(1))
    assert(badMailer.sent.size == 1)
    val bad = badMailer.sent.head
    assert(bad.subject == "ETL Workflow 1 fehlgeschlagen")
    assert(bad.to.toSet == Set("ops@example", "err@example"))
    assert(bad.bodyText.contains("FEHLGESCHLAGEN"))

    // delivery failure: error-ledgered as Dienst, run itself unaffected
    val failEngine = new Service.Engine(spark, "/root/testdata/sf0.001", tmpDir("svc-mail-wh3"),
      cfg0, Map(1 -> 100), clock = () => now, mailer = new graft.report.Mailer.Failing)
    failEngine.start()
    assert(failEngine.tick(now) == Seq(1))
    val deliveryErrors = failEngine.ledger.allErrors
      .filter(_.meldungstext.startsWith("Mailversand fehlgeschlagen"))
    assert(deliveryErrors.size == 1 && deliveryErrors.head.fehlertyp == "Dienst")
    // the workflow run is still successful — mail failure is not run failure
    assert(failEngine.ledger.current.exists(r => r.level == "workflow" && r.erfolgreich))
  }

  test("service restart neutralizes stale open plans and re-schedules (Worker.cs:45-51)") {
    val configDir = tmpDir("svc-restart-cfg")
    val ledgerDir = tmpDir("svc-restart-ledger")
    writeConfig(configDir)
    val cfg = Service.loadConfig(spark, configDir)
    var now = LocalDateTime.of(2026, 3, 2, 9, 0, 30)

    // first service life: a tick mid-minute PLANS the 09:01:00 run
    // (not yet due), the heartbeat snapshots the plan store, then the
    // service "crashes" (no shutdown — the open row stays persisted)
    val e1 = new Service.Engine(spark, "/root/testdata/sf0.001", tmpDir("svc-restart-wh"),
      cfg, Map(1 -> 100), clock = () => now)
    e1.start()
    assert(e1.tick(now).isEmpty) // planned, not due
    assert(e1.ledger.openPlans.size == 1)
    assert(e1.ledger.openPlans.head.geplanterStart == LocalDateTime.of(2026, 3, 2, 9, 1, 0))
    e1.ledger.persistPlans(spark, ledgerDir)

    // second life: start() reloads the store and neutralizes the stale
    // open plan, then the loop re-plans from the calculus
    now = LocalDateTime.of(2026, 3, 2, 10, 30, 55)
    val e2 = new Service.Engine(spark, "/root/testdata/sf0.001", tmpDir("svc-restart-wh2"),
      cfg, Map(1 -> 100), clock = () => now, restoreDir = Some(ledgerDir))
    e2.start()
    assert(e2.ledger.allPlans.size == 1 && e2.ledger.openPlans.isEmpty,
      "the stale plan must be reloaded and neutralized (Ausgefuehrt = 1)")
    assert(e2.ledger.allMessages.exists(_.meldungstext.startsWith("restart recovery")))
    // re-scheduled: the next tick creates a FRESH plan row and runs it
    assert(e2.tick(now) == Seq(1))
    assert(e2.ledger.allPlans.size == 2)
    val fresh = e2.ledger.allPlans.maxBy(_.id)
    assert(fresh.ausgefuehrt && fresh.geplanterStart == LocalDateTime.of(2026, 3, 2, 10, 31, 0))
    // the consumed plan's ledger id is the run's zeitplanAusfuehrungenId
    val wfRun = e2.ledger.current.find(_.level == "workflow").get
    assert(wfRun.zeitplanAusfuehrungenId.contains(fresh.id))
  }

  test("run ids stay unique across service lives sharing one ledger dir") {
    val configDir = tmpDir("svc-lives-cfg")
    val ledgerDir = tmpDir("svc-lives-ledger")
    writeConfig(configDir)
    val cfg = Service.loadConfig(spark, configDir)
    // two lives wired as Service.main wires them: restore from and
    // persist to the same ledger dir, each running one workflow
    Seq(LocalDateTime.of(2026, 3, 2, 9, 0, 55), LocalDateTime.of(2026, 3, 2, 10, 0, 55))
      .zipWithIndex.foreach { case (now, life) =>
        val e = new Service.Engine(spark, "/root/testdata/sf0.001", tmpDir(s"svc-lives-wh$life"),
          cfg, Map(1 -> 100), clock = () => now, restoreDir = Some(ledgerDir))
        e.start()
        assert(e.tick(now) == Seq(1))
        e.shutdown(Some(ledgerDir))
      }
    val events = spark.read.parquet(s"$ledgerDir/run_events")
    assert(events.filter("level = 'workflow'").count() > 0)
    // each (id, seq) is one version of one run row
    assert(events.select("id", "seq").distinct().count() == events.count(),
      "a later life reissued an earlier life's run ids")
    val messages = spark.read.parquet(s"$ledgerDir/meldungen")
    assert(messages.select("id").distinct().count() == messages.count())
    // and the two tables share the sequence without overlap
    assert(events.select("id").intersect(messages.select("id")).isEmpty)
  }

  test("plan-store snapshot survives a heartbeat crash: torn write falls back to the renamed-aside previous snapshot") {
    import graft.ledger.RunLedger
    val dir = tmpDir("svc-torn-snapshot")
    val clock = () => LocalDateTime.of(2026, 3, 2, 9, 0, 0)
    val l1 = new RunLedger(clock)
    val p1 = l1.planExecution(1, 10, LocalDateTime.of(2026, 3, 2, 9, 1, 0))
    l1.persistPlans(spark, dir) // good snapshot v1
    l1.planExecution(2, 20, LocalDateTime.of(2026, 3, 2, 9, 2, 0))
    l1.persistPlans(spark, dir) // good snapshot v2 — swap must leave no __old/__snapshot litter
    assert(!new java.io.File(s"$dir/zeitplan_ausfuehrungen__old").exists())
    assert(!new java.io.File(s"$dir/zeitplan_ausfuehrungen__snapshot").exists())

    // simulate a crash MID-SWAP: the previous snapshot was renamed aside
    // to __old, and the incoming one is torn (unreadable garbage where
    // the target dir should be) — exactly the state a kill between the
    // two renames leaves behind
    val target = new java.io.File(s"$dir/zeitplan_ausfuehrungen")
    val old = new java.io.File(s"$dir/zeitplan_ausfuehrungen__old")
    assert(target.renameTo(old))
    target.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target.toString, "part-torn.parquet"), "not parquet")

    val l2 = new RunLedger(clock)
    val restored = l2.restorePlans(spark, dir)
    assert(restored == 2, "restore must fall back to the __old snapshot")
    assert(l2.allPlans.map(_.id).toSet == Set(p1, p1 + 1))
    // restored ids never collide with new ones
    val fresh = l2.planExecution(3, 30, LocalDateTime.of(2026, 3, 2, 9, 3, 0))
    assert(fresh > p1 + 1)

    // crash in the OTHER window: the side dir was fully written but the
    // swap never started — target torn, no __old, complete __snapshot.
    // This is the state a second crash used to make unrecoverable
    // (r6 review finding); restore must read the side dir.
    def rmRf(f: java.io.File): Unit = graft.util.AtomicSwap.deleteRecursively(f)
    rmRf(old)
    val l2b = new RunLedger(clock)
    l2b.planExecution(1, 10, LocalDateTime.of(2026, 3, 2, 9, 1, 0))
    l2b.planExecution(2, 20, LocalDateTime.of(2026, 3, 2, 9, 2, 0))
    l2b.planExecution(3, 30, LocalDateTime.of(2026, 3, 2, 9, 3, 0))
    l2b.persistPlans(spark, dir) // good target again (3 rows)
    val snapshot = new java.io.File(s"$dir/zeitplan_ausfuehrungen__snapshot")
    assert(target.renameTo(snapshot)) // "write completed, swap never ran"
    target.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target.toString, "part-torn.parquet"), "still not parquet")
    val l2c = new RunLedger(clock)
    assert(l2c.restorePlans(spark, dir) == 3,
      "restore must fall back to the fully-written __snapshot side dir")

    // every copy unreadable → boot with an empty store, never throw
    val l3 = new RunLedger(clock)
    rmRf(snapshot)
    assert(l3.restorePlans(spark, dir) == 0)
    assert(l3.allPlans.isEmpty)
  }

  test("loadConfig round-trips the tenant-connection tables (flat Datenverbindungen form)") {
    import spark.implicits._
    import graft.model._
    import graft.sources.Connections
    val dir = tmpDir("svc-tenant-cfg")
    Seq(KonfigurationRow(7L, "cfg", 50L, 51L, istAktiv = true)).toDS()
      .write.parquet(s"$dir/konfigurationen")
    Seq(MandantVerbindungRow(1, 51L, 501L)).toDS()
      .write.parquet(s"$dir/mandanten_verbindungen")
    Seq(
      DatenverbindungFlatRow(501L, "wh-a", "parquet", pfad = Some("/tmp/wh-a")),
      DatenverbindungFlatRow(502L, "drop", "csv", pfad = Some("/tmp/drop")),
      DatenverbindungFlatRow(503L, "db", "jdbc", url = Some("jdbc:derby:x"),
        benutzer = Some("u"), kennwort = Some("p"))).toDS()
      .write.parquet(s"$dir/datenverbindungen")
    val cfg = Service.loadConfig(spark, dir)
    assert(cfg.konfigurationen.size == 1 && cfg.mandantenVerbindungen.size == 1)
    val specs = cfg.datenverbindungen.map(d => d.datenverbindungenId -> d.spec).toMap
    assert(specs(501L) == Connections.ParquetDir("/tmp/wh-a"))
    assert(specs(502L) == Connections.CsvDir("/tmp/drop"))
    assert(specs(503L) ==
      Connections.Jdbc("jdbc:derby:x", "u", "p", None))
    // a malformed typ refuses to load rather than mis-routing silently
    intercept[IllegalArgumentException] {
      DatenverbindungFlatRow(504L, "bad", "excel").toRow
    }
  }

  test("conf.Konfigurationsparameter drives the service knobs; malformed values keep defaults") {
    import graft.catalog.ConfigAssembly
    import graft.model.{ConfigSet, KonfigurationsparameterRow => P}
    // defaults are the reference's stdNumThreads/stdDebug/stdLogInterval
    assert(ConfigAssembly.serviceParams(ConfigSet(Seq.empty, Seq.empty, Seq.empty,
      Seq.empty, Seq.empty, Seq.empty, Seq.empty)) ==
      ConfigAssembly.ServiceParams(1, debug = false, 5))
    val cfg = ConfigSet(Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty,
      Seq.empty, Seq.empty,
      konfigurationsparameter = Seq(
        P("Anzahl_ETL_Threads", "8"),
        P("Debug", "1"),
        P("LogInterval", "not-a-number"), // malformed -> default, like the reference's catch
        P("Unbekannt", "x")))             // unknown name ignored
    assert(ConfigAssembly.serviceParams(cfg) ==
      ConfigAssembly.ServiceParams(8, debug = true, 5))
  }
}

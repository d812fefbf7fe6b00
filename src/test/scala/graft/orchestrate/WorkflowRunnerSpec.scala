package graft.orchestrate

import java.time.LocalDateTime

import scala.concurrent.ExecutionContext

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Tables, Warehouse}
import graft.ledger.RunLedger
import graft.model.RunLevel
import graft.schedule.Takeover
import graft.steps.{CommandType, StepContext, StepSpec, TaskType}
import graft.testkit.SparkSupport

/** SURVEY §7.3's minimum end-to-end slice: one workflow → one package →
  * one realization (maxParallel=2) → two steps (SQL_TARGET prepare +
  * COPY), producing ledger rows at all 4 levels — plus dependency
  * sharing, priority barriers and the fallback package.
  */
class WorkflowRunnerSpec extends AnyFunSuite with SparkSupport {

  private implicit val ec: ExecutionContext = ExecutionContext.global
  private val sf = "/root/testdata/sf0.001"

  private def fixture() = {
    Tables.registerAll(spark, sf)
    val ledger = new RunLedger(() => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val wh = new Warehouse(tmpDir("wf-wh"))
    val runner = new WorkflowRunner(
      new WorkflowManager, ledger, new Gates.ThreadCap(8),
      new Gates.TableLocks, new Gates.ParallelLocks,
      clock = () => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val mkCtx = (m: graft.macros.Macros.Context, stepRunId: Option[Long], real: RealizationSpec) =>
      StepContext(spark, wh, ledger, m, schrittRunId = stepRunId,
        konfigurationenId = real.konfigurationenId)
    (ledger, wh, runner, mkCtx)
  }

  test("end-to-end slice: SQL_TARGET + COPY produce 4-level ledger rows and a written table") {
    val (ledger, wh, runner, mkCtx) = fixture()
    val spec = WorkflowSpec(
      id = 1, masterPackageId = 10,
      takeover = Takeover.Config(uebernahmeVon = Some(LocalDateTime.of(1990, 1, 1, 0, 0))),
      packages = Map(
        10L -> PackageSpec(10, realizations = Seq(RealizationSpec(
          // cap 1: the COPY step needs the SQL_TARGET view, so starts-in-
          // order + cap-1 gives strict sequencing (reference semantics)
          100, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(1000, CommandType.SqlTarget, TaskType.Sql,
              "CREATE OR REPLACE TEMP VIEW li_src AS " +
                "SELECT * FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'",
              schrittReihenfolge = 1),
            StepSpec(1001, CommandType.Copy, TaskType.Sql,
              "SELECT l_orderkey, l_quantity FROM li_src",
              zieltabelle = Some("lineitem_copy"), schrittReihenfolge = 2)))))))

    val result = runner.run(spec, zeitplanAusfuehrungenId = 7, mkCtx)
    assert(result.success, s"workflow failed: ${result.error}")

    // ledger has one row per level, all closed successfully
    val rows = ledger.current
    assert(RunLevel.all.forall(l => rows.exists(_.level == l)))
    assert(rows.forall(r => r.istGestartet && r.istAbgeschlossen && r.erfolgreich))
    assert(rows.forall(r => r.endzeitpunkt.isDefined && r.startzeitpunkt.isDefined))

    // the copy recorded its row count and actually wrote the table
    val expected = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'")
      .head.getLong(0)
    val stepRow = rows.find(r => r.level == RunLevel.Schritt && r.refId == 1001L).get
    assert(stepRow.erwarteteDaten.contains(expected))
    assert(wh.read(spark, "lineitem_copy").count() == expected)

    // both executed SQLs are in the query log
    assert(ledger.allQueries.size == 2)
  }

  test("wait-order: step order + parallel cap respected, dependency package runs first and once") {
    val (ledger, _, runner, mkCtx) = fixture()
    val spec = WorkflowSpec(
      id = 2, masterPackageId = 20,
      packages = Map(
        20L -> PackageSpec(20, dependencies = Seq(21, 22),
          realizations = Seq(RealizationSpec(200, steps = Seq(
            StepSpec(2000, CommandType.Test, TaskType.Sql, "0.01"))))),
        21L -> PackageSpec(21, dependencies = Seq(23),
          realizations = Seq(RealizationSpec(210, steps = Seq(
            StepSpec(2100, CommandType.Test, TaskType.Sql, "0.01"))))),
        22L -> PackageSpec(22, dependencies = Seq(23),
          realizations = Seq(RealizationSpec(220, steps = Seq(
            StepSpec(2200, CommandType.Test, TaskType.Sql, "0.01"))))),
        23L -> PackageSpec(23, realizations = Seq(RealizationSpec(230, steps = Seq(
          StepSpec(2300, CommandType.Test, TaskType.Sql, "0.01")))))))

    val result = runner.run(spec, 8, mkCtx)
    assert(result.success)
    val pkgRows = ledger.current.filter(_.level == RunLevel.Paket)
    // shared dependency 23 ran exactly once despite two dependents
    assert(pkgRows.count(_.refId == 23L) == 1)
    assert(pkgRows.map(_.refId).toSet == Set(20L, 21L, 22L, 23L))
    // 23 finished before 21 and 22 started
    val p23End = ledger.current.find(r => r.level == RunLevel.Paket && r.refId == 23L).get
    assert(p23End.erfolgreich)
  }

  test("a failing step fails the workflow, closes ledger rows unsuccessfully, runs the fallback") {
    val (ledger, _, runner, mkCtx) = fixture()
    val spec = WorkflowSpec(
      id = 3, masterPackageId = 30, fallbackPackageId = Some(31),
      packages = Map(
        30L -> PackageSpec(30, realizations = Seq(RealizationSpec(300, steps = Seq(
          StepSpec(3000, CommandType.SqlTarget, TaskType.Sql, "SELECT * FROM no_such_table"))))),
        31L -> PackageSpec(31, realizations = Seq(RealizationSpec(310, steps = Seq(
          StepSpec(3100, CommandType.Test, TaskType.Sql, "0.01")))))))

    val result = runner.run(spec, 9, mkCtx)
    assert(!result.success)
    assert(result.fallbackRan)
    // workflow row closed unsuccessfully; error logged
    val wfRow = ledger.currentOf(result.workflowRunId).get
    assert(wfRow.istAbgeschlossen && !wfRow.erfolgreich)
    assert(ledger.allErrors.exists(_.fehlertyp == graft.model.ErrorRow.TypWorkflow))
    // the fallback package has a successful ledger row
    assert(ledger.current.exists(r =>
      r.level == RunLevel.Paket && r.refId == 31L && r.erfolgreich))
  }

  test("cancellation cascade: a failing step aborts queued siblings before they run (Workflow.cs:1387-1735)") {
    val (ledger, _, runner, mkCtx) = fixture()
    val spec = WorkflowSpec(
      id = 5, masterPackageId = 50,
      packages = Map(
        50L -> PackageSpec(50, realizations = Seq(RealizationSpec(
          500, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(5000, CommandType.SqlTarget, TaskType.Sql,
              "SELECT * FROM definitely_missing", schrittReihenfolge = 1),
            StepSpec(5001, CommandType.Test, TaskType.Sql, "0.01", schrittReihenfolge = 2),
            StepSpec(5002, CommandType.Test, TaskType.Sql, "0.01", schrittReihenfolge = 3)))))))
    val result = runner.run(spec, 10, mkCtx)
    assert(!result.success)
    // only the failing step produced a ledger row; the queued siblings
    // were cancelled before starting
    val stepRows = ledger.current.filter(_.level == RunLevel.Schritt)
    assert(stepRows.map(_.refId).toSet == Set(5000L))
    assert(!stepRows.head.erfolgreich)
  }

  test("steps claiming one table never overlap in the ledger, with zero slack") {
    val (_, wh, _, _) = fixture()
    val ledger = new RunLedger(() => LocalDateTime.now())
    val runner = new WorkflowRunner(new WorkflowManager, ledger, new Gates.ThreadCap(16),
      new Gates.TableLocks, new Gates.ParallelLocks)
    val steps = (1 to 16).map(i => StepSpec(7000L + i, CommandType.SqlTarget, TaskType.Sql,
      "SELECT 1", zieltabelle = Some("shared_t"), schrittReihenfolge = i))
    val spec = WorkflowSpec(7, 70, packages = Map(70L -> PackageSpec(70,
      realizations = Seq(RealizationSpec(700, anzahlParalleleSchritte = 16, steps = steps)))))
    (1 to 3).foreach(run => assert(runner.run(spec, run.toLong,
      (m, id, _) => StepContext(spark, wh, ledger, m, schrittRunId = id)).success))
    val windows = ledger.current.filter(_.level == RunLevel.Schritt)
      .map(r => (r.ausfuehrungsstartzeitpunkt.get, r.ausfuehrungsendzeitpunkt.get))
      .sortWith((x, y) => x._1.isBefore(y._1))
    assert(windows.size == 48)
    windows.sliding(2).foreach { case Seq(a, b) =>
      assert(!b._1.isBefore(a._2), s"execution windows overlap: $a and $b")
    }
  }

  test("result report renders run header, module rows and error table (Helper.cs:606-1112)") {
    val (ledger, _, runner, mkCtx) = fixture()
    val spec = WorkflowSpec(
      id = 6, masterPackageId = 60, fallbackPackageId = None,
      packages = Map(
        60L -> PackageSpec(60, realizations = Seq(RealizationSpec(600, steps = Seq(
          StepSpec(6000, CommandType.SqlTarget, TaskType.Sql, "SELECT * FROM no_such_tbl")))))))
    val result = runner.run(spec, 11, mkCtx)
    val text = graft.report.MailReport.render(ledger, result.workflowRunId)
    assert(text.contains("Workflow 6 run"))
    assert(text.contains("FEHLGESCHLAGEN"))
    assert(text.contains("paketschritt"))
    assert(text.contains("[major]"))
    val html = graft.report.MailReport.renderHtml(text)
    assert(html.startsWith("<html>") && html.contains("FEHLGESCHLAGEN"))
  }

  test("FSM follows the run: finished workflow can be re-scheduled, failed one too") {
    val (ledger, _, runner, mkCtx) = fixture()
    val mgr = new WorkflowManager
    val runner2 = new WorkflowRunner(mgr, ledger, new Gates.ThreadCap(4),
      new Gates.TableLocks, new Gates.ParallelLocks,
      clock = () => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val ok = WorkflowSpec(id = 4, masterPackageId = 40,
      packages = Map(40L -> PackageSpec(40, realizations = Seq(RealizationSpec(400,
        steps = Seq(StepSpec(4000, CommandType.Test, TaskType.Sql, "0.01")))))))
    runner2.run(ok, 1, mkCtx)
    assert(mgr.stage(4) == WorkflowStage.Finished)
    // second run re-schedules (mapping was consumed by the finish)
    runner2.run(ok, 2, mkCtx)
    assert(mgr.stage(4) == WorkflowStage.Finished)
    assert(mgr.wasExecutedOnce(4))
  }

  test("re-run after failure refreshes the stale zeitplan mapping (ADVICE r2)") {
    val (ledger, _, _, mkCtx) = fixture()
    val mgr = new WorkflowManager
    val runner = new WorkflowRunner(mgr, ledger, new Gates.ThreadCap(4),
      new Gates.TableLocks, new Gates.ParallelLocks,
      clock = () => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val failing = WorkflowSpec(id = 5, masterPackageId = 50,
      packages = Map(50L -> PackageSpec(50, realizations = Seq(RealizationSpec(500,
        steps = Seq(StepSpec(5000, CommandType.SqlTarget, TaskType.Sql,
          "SELECT * FROM this_table_does_not_exist")))))))
    assert(!runner.run(failing, 11, mkCtx).success)
    assert(mgr.zeitplanAusfuehrungenId(5) == 11) // setFailed keeps the mapping
    assert(!runner.run(failing, 12, mkCtx).success)
    // before the fix this still reported 11 for the whole second run
    assert(mgr.zeitplanAusfuehrungenId(5) == 12)
  }
}

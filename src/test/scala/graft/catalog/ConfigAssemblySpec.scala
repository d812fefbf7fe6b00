package graft.catalog

import java.time.LocalDateTime

import scala.concurrent.ExecutionContext

import org.scalatest.funsuite.AnyFunSuite

import graft.ledger.RunLedger
import graft.model._
import graft.orchestrate._
import graft.schedule.Interval
import graft.steps.{CommandType, StepContext, TaskType}
import graft.testkit.SparkSupport

/** FIXTURES.md §6: the minimum end-to-end slice driven entirely from
  * control-plane config rows — assembly walks the same join chain the
  * reference reads from MSSQL, and the assembled spec runs through the
  * orchestrator against real data.
  */
class ConfigAssemblySpec extends AnyFunSuite with SparkSupport {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def slice: ConfigSet = ConfigSet(
    workflows = Seq(WorkflowRow(1, 100, 10L, None, "e2e-slice",
      uebernahmeVon = Some(LocalDateTime.of(1990, 1, 1, 0, 0)),
      uebernahmeBis = Some(LocalDateTime.of(1999, 1, 1, 0, 0)),
      uebernahmeTageRueckwirkend = None, parallelsperre = false, istAktiv = true)),
    pakete = Seq(
      PaketRow(10L, "master", parallelsperre = false, istAktiv = true),
      PaketRow(11L, "staging", parallelsperre = false, istAktiv = true)),
    abhaengigkeiten = Seq(AbhaengigkeitRow(1, 10L, 11L, istAktiv = true)),
    umsetzungen = Seq(
      UmsetzungRow(100L, anzahlParalleleSchritte = 1, etlKonfigurationenId = Some(7L),
        parallelsperre = false, istAktiv = true),
      UmsetzungRow(110L, anzahlParalleleSchritte = 1, etlKonfigurationenId = Some(7L),
        parallelsperre = false, istAktiv = true)),
    paketUmsetzungen = Seq(
      PaketUmsetzungRow(1, 10L, 100L, paketPriorisierung = 1, mandantenId = None),
      PaketUmsetzungRow(1, 11L, 110L, paketPriorisierung = 1, mandantenId = None)),
    schritte = Seq(
      SchrittRow(1000L, "prepare", TaskType.Sql, CommandType.SqlTarget,
        "CREATE OR REPLACE TEMP VIEW cfg_li_src AS SELECT l_orderkey, l_quantity " +
          "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'",
        zieltabelle = None, quelltabelle = Some("lineitem"),
        parallelsperre = false, zeitscheibe = false, istAktiv = true),
      SchrittRow(1001L, "copy", TaskType.Sql, CommandType.Copy,
        "SELECT * FROM cfg_li_src",
        zieltabelle = Some("lineitem_copy_cfg"), quelltabelle = Some("cfg_li_src"),
        parallelsperre = false, zeitscheibe = false, istAktiv = true),
      SchrittRow(1002L, "staging-noop", TaskType.Sql, CommandType.Test, "0.01",
        zieltabelle = None, quelltabelle = None,
        parallelsperre = false, zeitscheibe = false, istAktiv = true),
      SchrittRow(1003L, "inactive", TaskType.Sql, CommandType.Test, "99",
        zieltabelle = None, quelltabelle = None,
        parallelsperre = false, zeitscheibe = false, istAktiv = false)),
    umsetzungSchritte = Seq(
      UmsetzungSchrittRow(100L, 1000L, 1),
      UmsetzungSchrittRow(100L, 1001L, 2),
      UmsetzungSchrittRow(100L, 1003L, 3), // inactive STEP: must be dropped
      // deactivated MAPPING of an active step (Realization.cs:647):
      // the assignment itself is off, so step 1002 must not join
      // realization 100 even though the step row stays active
      UmsetzungSchrittRow(100L, 1002L, 4, istAktiv = false),
      // a mapping scoped to ANOTHER workflow (Realization.cs:646):
      // workflow 1's assembly must not see it
      UmsetzungSchrittRow(100L, 1002L, 5, etlWorkflowId = Some(99)),
      UmsetzungSchrittRow(110L, 1002L, 1)),
    zeitplaene = Seq(ZeitplanRow(100, LocalDateTime.of(2026, 1, 1, 6, 0), None,
      "Täglich", "06:00:00", 0, 0, anJedemTag = true, inJedemMonat = true,
      wochentage = Seq.empty, monate = Seq.empty, wocheDesMonats = 0,
      monatsletzter = false, sofortAusfuehrung = true)))

  test("assembly: reachable packages, priorities, ordered steps, inactive rows dropped") {
    val spec = ConfigAssembly.workflowSpec(1, slice)
    assert(spec.masterPackageId == 10L)
    assert(spec.packages.keySet == Set(10L, 11L))
    assert(spec.packages(10L).dependencies == Seq(11L))
    val steps = spec.packages(10L).realizations.head.steps
    // ordered; inactive step, deactivated mapping, and foreign-workflow
    // mapping all dropped (r10 review: the mapping-level Ist_aktiv and
    // ETL_Workflow_ID filters of Package.cs:511 / Realization.cs:646-647)
    assert(steps.map(_.id) == Seq(1000L, 1001L))
    assert(steps(1).quelltabelle.contains("cfg_li_src"))
  }

  test("a deactivated package-realization MAPPING does not execute while the realization stays active (Package.cs:511)") {
    val cfg = slice.copy(paketUmsetzungen =
      slice.paketUmsetzungen.map(m =>
        if (m.etlPaketeId == 11L) m.copy(istAktiv = false) else m))
    val spec = ConfigAssembly.workflowSpec(1, cfg)
    assert(spec.packages(11L).realizations.isEmpty,
      "the deactivated assignment must drop realization 110 from package 11")
    assert(spec.packages(10L).realizations.nonEmpty, "other assignments unaffected")
  }

  test("assembled schedule maps interval names and masks") {
    val sched = ConfigAssembly.schedule(slice.zeitplaene.head)
    assert(sched.interval == Interval.Taeglich)
    assert(sched.sofortAusfuehrung)
  }

  test("the assembled spec runs end-to-end: config rows -> workflow run -> written table + ledger") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val ledger = new RunLedger(() => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val wh = new Warehouse(tmpDir("cfg-wh"))
    val runner = new WorkflowRunner(
      new WorkflowManager, ledger, new Gates.ThreadCap(8),
      new Gates.TableLocks, new Gates.ParallelLocks,
      clock = () => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val spec = ConfigAssembly.workflowSpec(1, slice)
    val result = runner.run(spec, 99,
      (m, stepRunId, real) =>
        StepContext(spark, wh, ledger, m, schrittRunId = stepRunId,
          konfigurationenId = real.konfigurationenId))
    assert(result.success, s"failed: ${result.error}")
    val expected = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'")
      .head.getLong(0)
    assert(wh.read(spark, "lineitem_copy_cfg").count() == expected)
    // dependency package 11 ran before 10 and produced ledger rows
    assert(ledger.current.exists(r => r.level == RunLevel.Paket && r.refId == 11L && r.erfolgreich))
    // the config ids flowed through to the query log
    assert(ledger.allQueries.forall(_.konfigurationenId.contains(7L)))
  }

  test("per-tenant connections: one configuration resolves and writes to two tenant warehouses") {
    import graft.sources.Connections
    val whA = tmpDir("tenant-a"); val whB = tmpDir("tenant-b")
    val cfg = ConfigSet(
      workflows = Seq(WorkflowRow(2, 100, 20L, None, "tenants",
        uebernahmeVon = Some(LocalDateTime.of(1990, 1, 1, 0, 0)),
        uebernahmeBis = Some(LocalDateTime.of(1999, 1, 1, 0, 0)),
        uebernahmeTageRueckwirkend = None, parallelsperre = false, istAktiv = true)),
      pakete = Seq(PaketRow(20L, "pkg", parallelsperre = false, istAktiv = true)),
      abhaengigkeiten = Seq.empty,
      umsetzungen = Seq(UmsetzungRow(200L, anzahlParalleleSchritte = 1,
        etlKonfigurationenId = Some(7L), parallelsperre = false, istAktiv = true)),
      // the SAME realization listed once per tenant — the reference's
      // multi-tenant replay shape (Mandanten_ID on pc.ETL_Pakete_Paketumsetzungen)
      paketUmsetzungen = Seq(
        PaketUmsetzungRow(2, 20L, 200L, paketPriorisierung = 1, mandantenId = Some(1)),
        PaketUmsetzungRow(2, 20L, 200L, paketPriorisierung = 1, mandantenId = Some(2))),
      schritte = Seq(SchrittRow(2000L, "copy", TaskType.Sql, CommandType.Copy,
        "SELECT 1 AS x", zieltabelle = Some("tenant_out"), quelltabelle = None,
        parallelsperre = false, zeitscheibe = false, istAktiv = true)),
      umsetzungSchritte = Seq(UmsetzungSchrittRow(200L, 2000L, 1)),
      konfigurationen = Seq(KonfigurationRow(7L, "cfg",
        quellEtlVerbindungenId = 50L, zielEtlVerbindungenId = 51L, istAktiv = true)),
      mandantenVerbindungen = Seq(
        MandantVerbindungRow(1, 50L, 500L), MandantVerbindungRow(1, 51L, 501L),
        MandantVerbindungRow(2, 50L, 500L), MandantVerbindungRow(2, 51L, 502L)),
      datenverbindungen = Seq(
        DatenverbindungRow(500L, "src", Connections.ParquetDir("/root/testdata/sf0.001")),
        DatenverbindungRow(501L, "wh-a", Connections.ParquetDir(whA)),
        DatenverbindungRow(502L, "wh-b", Connections.ParquetDir(whB))))

    val spec = ConfigAssembly.workflowSpec(2, cfg)
    val reals = spec.packages(20L).realizations
    assert(reals.size == 2)
    // both tenants share the physical SOURCE but resolve distinct TARGETS
    assert(reals.flatMap(_.connections).map(_.source).toSet.size == 1)
    assert(reals.flatMap(_.connections).map(_.target).toSet ==
      Set(Connections.ParquetDir(whA), Connections.ParquetDir(whB)))

    val ledger = new RunLedger(() => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val fallback = new Warehouse(tmpDir("tenant-default"))
    val runner = new WorkflowRunner(
      new WorkflowManager, ledger, new Gates.ThreadCap(8),
      new Gates.TableLocks, new Gates.ParallelLocks,
      clock = () => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val result = runner.run(spec, 98, (m, stepRunId, real) =>
      StepContext(spark, ConfigAssembly.warehouseFor(real, fallback), ledger, m,
        schrittRunId = stepRunId, konfigurationenId = real.konfigurationenId))
    assert(result.success, s"failed: ${result.error}")
    assert(new Warehouse(whA).read(spark, "tenant_out").count() == 1)
    assert(new Warehouse(whB).read(spark, "tenant_out").count() == 1)
  }

  test("a tenant target resolves to one Warehouse per (dir, format)") {
    import graft.sources.Connections
    val real = RealizationSpec(200L, connections = Some(Connections.Resolved(
      source = Connections.ParquetDir(tmpDir("tenant-src")),
      target = Connections.ParquetDir(tmpDir("tenant-shared")))))
    val fallback = new Warehouse(tmpDir("tenant-fallback"))
    val first = ConfigAssembly.warehouseFor(real, fallback)
    // every step of the tenant shares the table monitors and manifest memo
    assert(ConfigAssembly.warehouseFor(real, fallback) eq first)
    assert(ConfigAssembly.warehouseFor(real.copy(id = 201L), fallback) eq first)
    assert(!(ConfigAssembly.warehouseFor(real, new Warehouse(fallback.dir, "orc")) eq first))
  }

  test("a present connection model with a missing tenant mapping refuses to assemble") {
    import graft.sources.Connections
    val base = slice.copy(
      paketUmsetzungen = slice.paketUmsetzungen.map(_.copy(mandantenId = Some(9))),
      konfigurationen = Seq(KonfigurationRow(7L, "cfg", 50L, 51L, istAktiv = true)),
      mandantenVerbindungen = Seq(MandantVerbindungRow(9, 50L, 500L)), // ziel 51L missing
      datenverbindungen = Seq(
        DatenverbindungRow(500L, "src", Connections.ParquetDir("/root/testdata/sf0.001"))))
    val e = intercept[IllegalArgumentException] { ConfigAssembly.workflowSpec(1, base) }
    assert(e.getMessage.contains("Mandanten_Verbindung"))
  }

  test("config round-trips through parquet as typed Datasets") {
    import spark.implicits._
    val dir = tmpDir("cfg-parquet")
    slice.schritte.toDS().write.mode("overwrite").parquet(s"$dir/schritte")
    val back = spark.read.parquet(s"$dir/schritte").as[SchrittRow].collect()
    assert(back.toSet == slice.schritte.toSet)
  }
}

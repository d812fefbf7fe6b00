package graft.catalog

import java.time.DayOfWeek

import graft.model._
import graft.orchestrate.{PackageSpec, RealizationSpec, WorkflowSpec}
import graft.schedule.{Interval, Schedule, Takeover}
import graft.sources.Connections
import graft.steps.{CsvParams, StepSpec}

/** Config assembly — the metadata join chain the reference walks at run
  * time (`Step.cs:1285-1767` GetRealizationConnections, package reads
  * `Package.cs:479-514`, step reads `Realization.cs:614-667`),
  * re-expressed as one pure function from a [[ConfigSet]] snapshot to
  * runnable specs. Inactive rows (`Ist_aktiv = 0`) are filtered exactly
  * where the reference's WHERE clauses filter them.
  */
object ConfigAssembly {

  /** Build the runnable spec for one workflow id. */
  def workflowSpec(workflowId: Int, cfg: ConfigSet): WorkflowSpec = {
    val wf = cfg.workflows.find(w => w.etlWorkflowId == workflowId && w.istAktiv)
      .getOrElse(throw new IllegalArgumentException(s"no active workflow $workflowId"))

    val deps = cfg.abhaengigkeiten
      .filter(a => a.etlWorkflowId == workflowId && a.istAktiv)
      .groupBy(_.etlPaketeId)
      .view.mapValues(_.map(_.vorlaufEtlPaketeId)).toMap

    // reachable package closure from master + fallback roots
    val roots = Seq(wf.etlPaketeId) ++ wf.etlFallbackPaketeId
    val reachable = scala.collection.mutable.LinkedHashSet.empty[Long]
    def visit(p: Long): Unit = if (reachable.add(p))
      deps.getOrElse(p, Seq.empty).foreach(visit)
    roots.foreach(visit)

    val packages = reachable.toSeq.map { pid =>
      val row = cfg.pakete.find(p => p.etlPaketeId == pid && p.istAktiv)
        .getOrElse(throw new IllegalArgumentException(s"no active package $pid"))
      pid -> PackageSpec(
        id = pid,
        parallelsperre = row.parallelsperre,
        dependencies = deps.getOrElse(pid, Seq.empty),
        realizations = realizationsOf(workflowId, pid, cfg))
    }.toMap

    WorkflowSpec(
      id = workflowId,
      masterPackageId = wf.etlPaketeId,
      fallbackPackageId = wf.etlFallbackPaketeId,
      takeover = Takeover.Config(
        uebernahmeVon = wf.uebernahmeVon,
        uebernahmeBis = wf.uebernahmeBis,
        uebernahmeTageRueckwirkend = wf.uebernahmeTageRueckwirkend),
      parallelsperre = wf.parallelsperre,
      packages = packages)
  }

  private def realizationsOf(workflowId: Int, paketId: Long, cfg: ConfigSet): Seq[RealizationSpec] =
    cfg.paketUmsetzungen
      .filter(m => m.etlWorkflowId == workflowId && m.etlPaketeId == paketId &&
        m.istAktiv) // the MAPPING's Ist_aktiv (Package.cs:511), r10 review
      .flatMap { m =>
        cfg.umsetzungen
          .find(u => u.etlPaketUmsetzungenId == m.etlPaketUmsetzungenId && u.istAktiv)
          .map { u =>
            RealizationSpec(
              id = u.etlPaketUmsetzungenId,
              prioritaet = m.paketPriorisierung,
              anzahlParalleleSchritte = u.anzahlParalleleSchritte,
              konfigurationenId = u.etlKonfigurationenId,
              parallelsperre = u.parallelsperre,
              connections = resolveConnections(u.etlKonfigurationenId, m.mandantenId, cfg),
              steps = stepsOf(workflowId, u.etlPaketUmsetzungenId, cfg))
          }
      }

  /** Physical source/target for one configuration × tenant — the
    * GetRealizationConnections chain (`Step.cs:1285-1767`):
    * `pc.ETL_Konfigurationen[confId]` yields the LOGICAL
    * Quell-/Ziel-Verbindung ids, `pc.ETL_Mandanten_Verbindungen
    * [(verbindung, mandant)]` maps each through the tenant, and
    * `conf.Datenverbindungen` supplies the physical spec. Returns None
    * when the snapshot carries no connection model (warehouse-only
    * deployments keep working unchanged); a PRESENT model with a missing
    * row throws, like the reference's ETLException on a failed
    * DataRow lookup.
    */
  def resolveConnections(
      konfigurationenId: Option[Long],
      mandantenId: Option[Int],
      cfg: ConfigSet): Option[Connections.Resolved] =
    konfigurationenId.filter(_ => cfg.konfigurationen.nonEmpty).map { confId =>
      val k = cfg.konfigurationen.find(k => k.etlKonfigurationenId == confId && k.istAktiv)
        .getOrElse(throw new IllegalArgumentException(s"no active Konfiguration $confId"))
      def physical(verbindungId: Long, rolle: String): Connections.Spec = {
        val mid = mandantenId.getOrElse(throw new IllegalArgumentException(
          s"Konfiguration $confId needs a Mandanten_ID on the realization " +
            s"to resolve its $rolle connection"))
        val mv = cfg.mandantenVerbindungen.find(m =>
          m.etlVerbindungenId == verbindungId && m.mandantenId == mid)
          .getOrElse(throw new IllegalArgumentException(
            s"no Mandanten_Verbindung for (Verbindung $verbindungId, Mandant $mid)"))
        cfg.datenverbindungen.find(_.datenverbindungenId == mv.datenverbindungenId)
          .getOrElse(throw new IllegalArgumentException(
            s"no Datenverbindung ${mv.datenverbindungenId}"))
          .spec
      }
      Connections.Resolved(
        source = physical(k.quellEtlVerbindungenId, "source"),
        target = physical(k.zielEtlVerbindungenId, "target"))
    }

  /** Warehouse for a realization: the tenant-resolved target when the
    * config model carries one (a parquet-dir target IS a warehouse
    * root), the service default otherwise. One instance per
    * (dir, format), so every step writing to a tenant dir shares its
    * table monitors and manifest memo.
    */
  def warehouseFor(real: RealizationSpec, default: Warehouse): Warehouse =
    real.connections match {
      case Some(Connections.Resolved(_, Connections.ParquetDir(dir))) =>
        tenantWarehouses.computeIfAbsent((dir, default.format),
          k => new Warehouse(k._1, k._2))
      case _ => default
    }

  private val tenantWarehouses =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Warehouse]()

  private def stepsOf(workflowId: Int, umsetzungId: Long, cfg: ConfigSet): Seq[StepSpec] =
    cfg.umsetzungSchritte
      .filter(m => m.etlPaketUmsetzungenId == umsetzungId &&
        // the reference scopes step assignments per workflow AND filters
        // the mapping's own flag (Realization.cs:646-647); None = an
        // unscoped legacy mapping, applies everywhere (r10 review)
        m.etlWorkflowId.forall(_ == workflowId) && m.istAktiv)
      .sortBy(_.schrittReihenfolge)
      .flatMap { m =>
        cfg.schritte
          .find(s => s.etlPaketschritteId == m.etlPaketschritteId && s.istAktiv)
          .map { s =>
            StepSpec(
              id = s.etlPaketschritteId,
              befehlstyp = s.befehlstyp,
              aufgabentyp = s.aufgabentyp,
              befehl = s.befehl,
              zieltabelle = s.zieltabelle,
              quelltabelle = s.quelltabelle,
              zeitscheibe = s.zeitscheibe,
              parallelsperre = s.parallelsperre,
              schrittReihenfolge = m.schrittReihenfolge,
              csv = csvParamsOf(s.etlPaketschritteId, cfg))
          }
      }

  /** CSV parameters with the reference's defaults when absent
    * (`CommandExecuter.cs:2183-2188`).
    */
  private def csvParamsOf(schrittId: Long, cfg: ConfigSet): CsvParams =
    cfg.schrittParameter.find(_.etlPaketschritteId == schrittId) match {
      case None => CsvParams()
      case Some(p) =>
        val d = CsvParams()
        CsvParams(
          kopfzeile = p.kopfzeile.getOrElse(d.kopfzeile),
          trennzeichen = p.trennzeichen.getOrElse(d.trennzeichen),
          zahlenformat = p.zahlenformat.orElse(d.zahlenformat),
          datumsformat = p.datumsformat.getOrElse(d.datumsformat),
          textqualifizierer = p.textqualifizierer.orElse(d.textqualifizierer),
          escapecharacter = p.escapecharacter.getOrElse(d.escapecharacter),
          leerwert = p.leerwert.getOrElse(d.leerwert),
          einzeldatei = p.einzeldatei.getOrElse(d.einzeldatei))
    }

  /** Service-level parameters from `conf.Konfigurationsparameter`
    * (`Helper.cs:300-430` ReadConfigurations). Defaults are the
    * reference's (`stdNumThreads = 1`, `stdDebug = false`,
    * `stdLogInterval = 5`); a malformed value keeps the default like the
    * reference's per-row catch; unknown parameter names are ignored.
    */
  final case class ServiceParams(
      anzahlEtlThreads: Int = 1,
      debug: Boolean = false,
      logIntervalMinutes: Int = 5)

  def serviceParams(cfg: ConfigSet): ServiceParams =
    cfg.konfigurationsparameter.foldLeft(ServiceParams()) { (p, row) =>
      row.parametername match {
        case "Anzahl_ETL_Threads" =>
          row.parameterwert.trim.toIntOption.fold(p)(v => p.copy(anzahlEtlThreads = v))
        case "Debug" =>
          row.parameterwert.trim.toBooleanOption
            .orElse(row.parameterwert.trim.toIntOption.map(_ != 0))
            .fold(p)(v => p.copy(debug = v))
        case "LogInterval" =>
          row.parameterwert.trim.toIntOption.fold(p)(v => p.copy(logIntervalMinutes = v))
        case _ => p
      }
    }

  /** Zeitplan row → pure schedule (interval by name, masks to enums). */
  def schedule(z: ZeitplanRow): Schedule =
    Schedule(
      interval = Interval.byName(z.zeitplanIntervall),
      anfangsdatum = z.anfangsdatum,
      startzeit = java.time.LocalTime.parse(z.startzeit),
      endedatum = z.endedatum,
      sofortAusfuehrung = z.sofortAusfuehrung,
      tageswiederholung = z.tageswiederholung,
      wochenwiederholung = z.wochenwiederholung,
      monatsletzter = z.monatsletzter,
      wocheDesMonats = z.wocheDesMonats,
      anJedemTag = z.anJedemTag,
      inJedemMonat = z.inJedemMonat,
      wochentage = z.wochentage.map(DayOfWeek.of).toSet,
      monate = z.monate.map(java.time.Month.of).toSet)
}

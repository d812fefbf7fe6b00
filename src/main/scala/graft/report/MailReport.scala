package graft.report

import java.time.Duration
import java.time.format.DateTimeFormatter

import graft.ledger.RunLedger
import graft.model.{RunLevel, RunRow}

/** Result-report rendering — the engine-side `Helper.cs:606-797` mail:
  * run header (start/end/duration, takeover window), one row per
  * module across all 4 levels (`AnalyzeWorkflowRun`/`AnalyzeLevel`,
  * `808-1292`), and the error table (`AnalyzeWorkflowError`,
  * `915-1112`). Rendered as plain text + a minimal HTML twin; SMTP
  * delivery is environment wiring, not an operator, and stays out.
  */
object MailReport {

  private val Ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def fmt(r: RunRow): String = {
    val start = r.startzeitpunkt.map(_.format(Ts)).getOrElse("-")
    val end = r.endzeitpunkt.map(_.format(Ts)).getOrElse("-")
    val dur = (r.startzeitpunkt, r.endzeitpunkt) match {
      case (Some(s), Some(e)) =>
        val d = Duration.between(s, e)
        s"${d.toMinutes}m ${d.toSecondsPart}s"
      case _ => "-"
    }
    val status =
      if (!r.istAbgeschlossen) "OFFEN"
      else if (r.erfolgreich) "OK"
      else "FEHLER"
    val rows = r.erwarteteDaten.map(n => s" rows=$n").getOrElse("")
    f"  ${r.level}%-15s #${r.refId}%-6d $start → $end  $dur%-10s $status$rows"
  }

  /** Plain-text report for one workflow run id. */
  def render(ledger: RunLedger, workflowRunId: Long): String = {
    val rows = ledger.current
    val wf = rows.find(r => r.level == RunLevel.Workflow && r.id == workflowRunId)
      .getOrElse(throw new IllegalArgumentException(s"no workflow run $workflowRunId"))
    val children = rows.filter(r =>
      r.workflowRunId.contains(workflowRunId) || r.id == workflowRunId)
    val ordered = children.sortBy(r =>
      (RunLevel.all.indexOf(r.level), r.id))
    val errors = ledger.allErrors.filter(_.workflowRunId.contains(workflowRunId))

    val header = Seq(
      s"Workflow ${wf.refId} run #$workflowRunId — ${if (wf.erfolgreich) "ERFOLGREICH" else "FEHLGESCHLAGEN"}",
      s"  Anforderung: ${wf.anforderungszeitpunkt.format(Ts)}",
      s"  Start:       ${wf.startzeitpunkt.map(_.format(Ts)).getOrElse("-")}",
      s"  Ende:        ${wf.endzeitpunkt.map(_.format(Ts)).getOrElse("-")}")
    val moduleTable = "Module:" +: ordered.map(fmt)
    val errorTable =
      if (errors.isEmpty) Seq("Fehler: keine")
      else "Fehler:" +: errors.map(e =>
        s"  [${e.schweregrad}] ${e.fehlertyp}: ${e.meldungstext}")

    (header ++ Seq("") ++ moduleTable ++ Seq("") ++ errorTable).mkString("\n")
  }

  final case class Recipients(to: Seq[String], cc: Seq[String])

  /** Per-workflow recipient selection from `conf.Email_Verteiler_Workflow`
    * (`Workflow.cs:1296-1317` success path, `1560-1585` Abort path):
    * active rows only; on SUCCESS `Nur_Fehler` recipients are skipped, on
    * FAILURE everyone is included; the `CC` flag routes to the CC list.
    * SMTP delivery stays environment wiring — this is the engine logic.
    */
  def recipients(
      rows: Seq[graft.model.EmailVerteilerRow],
      workflowId: Int,
      success: Boolean): Recipients = {
    val active = rows.filter(r => r.etlWorkflowId == workflowId && r.istAktiv)
    val selected = if (success) active.filterNot(_.nurFehler) else active
    Recipients(
      to = selected.filterNot(_.cc).map(_.empfaenger),
      cc = selected.filter(_.cc).map(_.empfaenger))
  }

  /** The reference only sends the SUCCESS mail when the To list is
    * non-empty (`Workflow.cs:1326`); failure mail always goes out.
    */
  def shouldSend(success: Boolean, r: Recipients): Boolean =
    !success || r.to.nonEmpty

  /** Minimal HTML rendering of a [[render]]ed report (the reference fills
    * `www/diz_mail.html` templates; structure parity, not pixels).
    */
  def renderHtml(text: String): String =
    "<html><body><pre>" +
      text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;") +
      "</pre></body></html>"
}

package graft.orchestrate

import java.time.LocalDateTime

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import graft.ledger.RunLedger
import graft.macros.Macros
import graft.model.{ErrorRow, RunLevel}
import graft.schedule.Takeover
import graft.steps.{StepContext, StepSpec, Steps}

/** Config-plane specs — the in-memory shape of the `pc.*` rows SURVEY
  * §3.1 traces (workflow → package → realization → step with priorities,
  * caps and locks).
  */
final case class RealizationSpec(
    id: Long,
    prioritaet: Int = 0,
    anzahlParalleleSchritte: Int = 1,
    konfigurationenId: Option[Long] = None,
    parallelsperre: Boolean = false,
    /** Tenant-resolved physical endpoints (`Step.cs:1285-1767`), when
      * the config snapshot carries the connection model.
      */
    connections: Option[graft.sources.Connections.Resolved] = None,
    steps: Seq[StepSpec] = Seq.empty)

final case class PackageSpec(
    id: Long,
    parallelsperre: Boolean = false,
    /** `Vorlauf_ETL_Pakete_ID` predecessors. */
    dependencies: Seq[Long] = Seq.empty,
    realizations: Seq[RealizationSpec] = Seq.empty)

final case class WorkflowSpec(
    id: Int,
    masterPackageId: Long,
    fallbackPackageId: Option[Long] = None,
    takeover: Takeover.Config = Takeover.Config(
      uebernahmeVon = Some(LocalDateTime.of(1990, 1, 1, 0, 0))),
    parallelsperre: Boolean = false,
    packages: Map[Long, PackageSpec] = Map.empty)

final case class WorkflowResult(
    workflowRunId: Long,
    success: Boolean,
    fallbackRan: Boolean,
    error: Option[Throwable])

/** The 4-level execution engine — `Workflow.Init/Start` → `Package` DAG →
  * `Realization` priority groups → `Step` gates (SURVEY §3.1 stages
  * 6-11), driving the FSM, the run ledger, and every concurrency gate.
  * Failure cancels the run and triggers the fallback package
  * (`Workflow.cs:1465-1538`); the ledger row of every open level is
  * closed unsuccessfully like the reference's Abort cascade.
  */
final class WorkflowRunner(
    manager: WorkflowManager,
    ledger: RunLedger,
    gates: Gates.ThreadCap,
    tableLocks: Gates.TableLocks,
    parallelLocks: Gates.ParallelLocks,
    clock: () => LocalDateTime = () => LocalDateTime.now())(implicit ec: ExecutionContext) {

  /** Cancellation token — one per workflow run, the engine-side
    * `CancellationTokenSource` (`Workflow.cs:1387-1735`): any failure
    * cancels it; every level checks it before starting, so queued /
    * not-yet-started work aborts instead of running to completion.
    */
  final class RunToken {
    @volatile private var cancelled = false
    def cancel(): Unit = cancelled = true
    def isCancelled: Boolean = cancelled
    def checkpoint(): Unit =
      if (cancelled) throw new EtlStateException("workflow run cancelled")
  }

  /** Run one scheduled workflow end-to-end (blocking, like the
    * reference's awaited master-package task, `Workflow.cs:1052-1107`).
    * `stepContext` builds the per-step context from the expanded macro
    * context.
    */
  def run(
      spec: WorkflowSpec,
      zeitplanAusfuehrungenId: Long,
      stepContext: (Macros.Context, Option[Long], RealizationSpec) => StepContext): WorkflowResult = {

    if (!manager.existsMapping(spec.id)) manager.register(spec.id, zeitplanAusfuehrungenId)
    else {
      manager.setScheduled(spec.id)
      // a failed run leaves its mapping behind (setFailed keeps it, per
      // the reference); refresh it so zeitplanAusfuehrungenId reports
      // THIS run's id, not the failed predecessor's
      if (manager.zeitplanAusfuehrungenId(spec.id) != zeitplanAusfuehrungenId) {
        manager.removeMapping(spec.id)
        manager.addMapping(spec.id, zeitplanAusfuehrungenId)
      }
    }

    val requestedAt = clock()
    val wfRunId = ledger.start(RunLevel.Workflow, spec.id.toLong,
      zeitplanAusfuehrungenId = Some(zeitplanAusfuehrungenId),
      parallelsperre = spec.parallelsperre)

    manager.scheduledToInitializing(spec.id)
    ledger.markStarted(wfRunId)

    val token = new RunToken
    // everything after ledger.start is inside the Try — an
    // initialization throw (Takeover.window on a config with neither
    // uebernahmeVon nor uebernahmeTageRueckwirkend) used to escape
    // BEFORE the Try, leaving the workflow ledger row open forever and
    // the FSM stuck in Initializing (r10 review); now it takes the same
    // failure path as an execution error. The macro context is stashed
    // for the fallback, which is SKIPPED when initialization itself
    // failed (no window to run compensation in).
    var macroCtxOpt: Option[Macros.Context] = None
    val attempt = Try {
      val (von, bis) = Takeover.window(spec.takeover, clock(), requestedAt)
      val macroCtx = Macros.Context(
        workflowId = spec.id.toLong,
        takeoverVon = von, takeoverBis = bis,
        belegungszeit = Some(requestedAt),
        prozesslaeufeId = Some(wfRunId),
        zeitplanAusfuehrungenId = Some(zeitplanAusfuehrungenId),
        etlProzesslaeufeId = Some(wfRunId))
      macroCtxOpt = Some(macroCtx)

      manager.initializingToExecuting(spec.id)

      parallelLocks.withModule("workflow", spec.parallelsperre) {
        executing(wfRunId)(
          runPackageTree(spec, spec.masterPackageId, wfRunId, macroCtx, stepContext, token))
      }
    }
    if (attempt.isFailure) token.cancel()

    attempt match {
      case Success(_) =>
        ledger.markFinished(wfRunId, success = true)
        manager.executingToFinished(spec.id)
        WorkflowResult(wfRunId, success = true, fallbackRan = false, error = None)
      case Failure(e) =>
        ledger.error(ErrorRow.TypWorkflow, ErrorRow.SeverityMajor,
          s"workflow ${spec.id} failed: ${e.getMessage}",
          stacktrace = Some(e.getStackTrace.mkString("\n")),
          workflowRunId = Some(wfRunId))
        // fallback package as compensation (`Workflow.cs:1465-1538`);
        // its failure is logged major but not retried. Runs only when
        // initialization produced a macro context.
        val fallbackRan = (spec.fallbackPackageId, macroCtxOpt) match {
          case (Some(fb), Some(macroCtx)) =>
            // fallback runs under its own token (compensation must not
            // inherit the cancelled state)
            Try(runPackageTree(spec, fb, wfRunId, macroCtx, stepContext, new RunToken)) match {
              case Failure(fbErr) =>
                ledger.error(ErrorRow.TypWorkflow, ErrorRow.SeverityMajor,
                  s"fallback package $fb failed: ${fbErr.getMessage}",
                  workflowRunId = Some(wfRunId))
              case Success(_) => ()
            }
            true
          case _ => false
        }
        ledger.markFinished(wfRunId, success = false)
        manager.setFailed(spec.id)
        WorkflowResult(wfRunId, success = false, fallbackRan = fallbackRan, error = Some(e))
    }
  }

  /** A level's execution window, run inside the level's lock scope: the
    * end is stamped before the lock is released, so a waiting claimant's
    * execution start can never precede it in the ledger.
    */
  private def executing[A](runId: Long)(body: => A): A = {
    ledger.markExecuting(runId)
    try body finally ledger.markExecuted(runId)
  }

  /** Package DAG rooted at `rootPkg` with shared predecessor execution. */
  private def runPackageTree(
      spec: WorkflowSpec, rootPkg: Long, wfRunId: Long, macroCtx: Macros.Context,
      stepContext: (Macros.Context, Option[Long], RealizationSpec) => StepContext,
      token: RunToken): Unit = {
    val dag = new PackageDag(
      id => spec.packages.get(id).map(_.dependencies).getOrElse(Seq.empty),
      id => runPackage(spec, id, wfRunId, macroCtx, stepContext, token))
    Await.result(dag.execute(rootPkg), Duration.Inf)
  }

  private def runPackage(
      spec: WorkflowSpec, pkgId: Long, wfRunId: Long, macroCtx: Macros.Context,
      stepContext: (Macros.Context, Option[Long], RealizationSpec) => StepContext,
      token: RunToken): Unit = {
    token.checkpoint()
    val pkg = spec.packages.getOrElse(pkgId,
      throw new EtlStateException(s"unknown package $pkgId"))
    val pkgRunId = ledger.start(RunLevel.Paket, pkgId,
      workflowRunId = Some(wfRunId), parallelsperre = pkg.parallelsperre)
    ledger.markStarted(pkgRunId)
    val result = Try {
      parallelLocks.withModule("package", pkg.parallelsperre) {
        executing(pkgRunId) {
          val prioritized = pkg.realizations.map(r => r.prioritaet -> r)
          Await.result(
            PriorityBarrier.run(prioritized)(r =>
              Future(runRealization(r, wfRunId, pkgRunId, macroCtx, stepContext, token))),
            Duration.Inf)
        }
      }
    }
    ledger.markFinished(pkgRunId, success = result.isSuccess)
    result.get
  }

  private def runRealization(
      real: RealizationSpec, wfRunId: Long, pkgRunId: Long, macroCtx: Macros.Context,
      stepContext: (Macros.Context, Option[Long], RealizationSpec) => StepContext,
      token: RunToken): Unit = {
    token.checkpoint()
    val realRunId = ledger.start(RunLevel.Umsetzung, real.id,
      workflowRunId = Some(wfRunId), paketRunId = Some(pkgRunId),
      parallelsperre = real.parallelsperre)
    ledger.markStarted(realRunId)
    val stepCap = new Gates.StepCap(real.anzahlParalleleSchritte)
    val result = Try {
      parallelLocks.withModule("realization", real.parallelsperre) {
        executing(realRunId) {
          val ordered = real.steps.sortBy(_.schrittReihenfolge)
          // Steps START in Schritt_Reihenfolge order and run concurrently up
          // to the caps (`Realization.cs:573-885`): the slot is acquired in
          // the submission loop, so step k+cap cannot start before an
          // earlier step released — with cap 1 execution is strictly
          // sequential, exactly the reference's observable ordering.
          val futures = ordered.map { s =>
            stepCap.acquire()
            Future {
              try gates.withSlot(
                runStep(s, real, wfRunId, pkgRunId, realRunId, macroCtx, stepContext, token))
              finally stepCap.release()
            }
          }
          // waitAll, not sequence: the realization must not close (and let
          // compensation start) while a sibling step is still executing
          Await.result(Futures.waitAll(futures), Duration.Inf)
        }
      }
    }
    ledger.markFinished(realRunId, success = result.isSuccess)
    result.get
    ()
  }

  private def runStep(
      step: StepSpec, real: RealizationSpec, wfRunId: Long, pkgRunId: Long, realRunId: Long,
      macroCtx: Macros.Context,
      stepContext: (Macros.Context, Option[Long], RealizationSpec) => StepContext,
      token: RunToken): Unit = {
    token.checkpoint()
    val stepRunId = ledger.start(RunLevel.Schritt, step.id,
      workflowRunId = Some(wfRunId), paketRunId = Some(pkgRunId),
      umsetzungRunId = Some(realRunId), parallelsperre = step.parallelsperre)
    ledger.markStarted(stepRunId)
    val stepMacroCtx = macroCtx.copy(
      etlPaketProzesslaeufeId = Some(pkgRunId),
      etlPaketumsetzungProzesslaeufeId = Some(realRunId),
      etlPaketschrittProzesslaeufeId = Some(stepRunId))
    val result = Try {
      parallelLocks.withModule("step", step.parallelsperre) {
        tableLocks.withTables(StepSpec.claimedTables(step)) {
          // cancellation cascade: a sibling failure aborts queued steps
          // before they touch data (`Step.cs:888-1060` Abort)
          token.checkpoint()
          executing(stepRunId)(
            Steps.execute(step, stepContext(stepMacroCtx, Some(stepRunId), real)))
        }
      }
    }
    if (result.isFailure) token.cancel()
    ledger.markFinished(stepRunId, success = result.isSuccess)
    result match {
      case Failure(e: EtlStateException)
          if token.isCancelled && e.getMessage == "workflow run cancelled" =>
        // a queued step aborted by the cancellation cascade (this exact
        // exception is thrown only by RunToken.checkpoint) is NOT a SQL
        // failure — logging it as one buried the single root-cause error
        // under one TypSql/Major row per queued sibling (r10 review); the
        // reference's Abort path doesn't error-log aborted steps either.
        // The guard is on the checkpoint message, not the token alone:
        // the root-cause step's own failure also cancels the token
        // before this match and must keep its error row
        ledger.message(s"step ${step.id} aborted: ${e.getMessage}",
          workflowRunId = Some(wfRunId), paketRunId = Some(pkgRunId),
          umsetzungRunId = Some(realRunId), schrittRunId = Some(stepRunId))
        throw e
      case Failure(e) =>
        ledger.error(ErrorRow.TypSql, ErrorRow.SeverityMajor,
          s"step ${step.id} failed: ${e.getMessage}",
          workflowRunId = Some(wfRunId), paketRunId = Some(pkgRunId),
          umsetzungRunId = Some(realRunId), schrittRunId = Some(stepRunId))
        throw e
      case Success(_) => ()
    }
  }
}

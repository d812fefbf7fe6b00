package graft.steps

import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Tables, Warehouse}
import graft.ledger.RunLedger
import graft.macros.Macros
import graft.model.RunLevel
import graft.operators.ZOrder
import graft.queries.EndToEnd
import graft.testkit.SparkSupport

/** Ledger + layout semantics of the q109 maintenance workflow (r13) —
  * `compact`, the `delete_where` retention cut, `optimize_zorder` and
  * `refresh_stats` as MAINTENANCE steps. The readback VALUES are
  * q109's DuckDB oracle's job (maintenance preserves the retained
  * contents exactly); this spec owns what SQL can't see: file
  * accounting in the message log, the real multi-key layout the
  * rewrite produced, the manifest the final step wrote, the structural
  * mutex claim, the step-vs-direct drift bound, the cascade/fallback
  * path, and the loud Zeitscheibe rejection.
  */
class MaintenanceWorkflowSpec extends AnyFunSuite with SparkSupport {

  private val sf = "/root/testdata/sf0.001"

  private def sliceCount(fromMonth: String, toMonth: String): Long =
    Tables.load(spark, sf, "lineitem")
      .filter(s"l_shipdate >= TIMESTAMP '$fromMonth' AND l_shipdate < TIMESTAMP '$toMonth'")
      .count()

  test("happy path: appends accumulate, compact folds, optimize re-lays out, ledger accounts") {
    val (result, ledger, wh, whDir) = EndToEnd.runMaintenanceWorkflow(spark, sf)
    assert(result.success && !result.fallbackRan && result.error.isEmpty)

    val rows = ledger.current
    def level(l: String) = rows.filter(_.level == l)
    assert(level(RunLevel.Paket).map(_.refId).sorted == Seq(61L, 62L))
    assert(level(RunLevel.Schritt).map(_.refId).sorted ==
      Seq(6100L, 6110L, 6200L, 6210L, 6220L, 6230L))
    assert(level(RunLevel.Schritt).forall(r => r.istAbgeschlossen && r.erfolgreich))

    // the COPY appends' row accounting
    val q1 = sliceCount("1995-01-01 00:00:00", "1995-04-01 00:00:00")
    val q2 = sliceCount("1995-04-01 00:00:00", "1995-07-01 00:00:00")
    val retained = sliceCount("1995-02-01 00:00:00", "1995-07-01 00:00:00")
    def step(ref: Long) = level(RunLevel.Schritt).find(_.refId == ref).get
    assert(step(6100L).erwarteteDaten.contains(q1))
    assert(step(6110L).erwarteteDaten.contains(q2))
    assert(retained < q1 + q2, "fixture must have rows to retire")
    assert(wh.read(spark, "mt_lineitem").count() == retained,
      "delete_where must drop exactly the pre-horizon rows; the other " +
        "maintenance actions must not change the row count")

    // message-log file accounting: two appends leave >=2 files, compact
    // folds them to 1 (the slice is far under rows_per_file), optimize
    // re-splits into ceil(rows / 256) range-partitioned sorted files
    val msgs = ledger.allMessages.map(_.meldungstext)
    val compactMsg = msgs.find(_.startsWith("MAINTENANCE compact on mt_lineitem")).get
    val optMsg = msgs.find(_.startsWith("MAINTENANCE optimize_zorder on mt_lineitem")).get
    val delMsg = msgs.find(_.startsWith("MAINTENANCE delete_where on mt_lineitem")).get
    val statsMsg = msgs.find(_.startsWith("MAINTENANCE refresh_stats on mt_lineitem")).get
    def counts(m: String): (Int, Int) = {
      val p = m.split(":")(1).trim.stripSuffix(" files").split("->").map(_.trim.toInt)
      (p(0), p(1))
    }
    val (cb, ca) = counts(compactMsg)
    assert(cb >= 2, s"two COPY appends must leave >=2 part files (got $cb)")
    assert(ca == 1, s"compact at rows_per_file=1000000 must fold to one file (got $ca)")
    assert(delMsg.contains("deleted rows matching"),
      s"the retention cut must report a real rewrite, got: $delMsg")
    // the compacted file holds rows on both sides of the horizon, so its
    // footer decides nothing: it is probed and rewritten
    assert(delMsg.endsWith(": 0 files dropped, 0 kept, 1 rewritten"),
      s"the retention cut must account its one mixed file as rewritten, got: $delMsg")
    val (_, oa) = counts(optMsg)
    assert(oa == math.max(1, math.ceil(retained.toDouble / 256).toInt),
      "optimize_zorder must re-split the RETAINED rows into ceil(rows / rows_per_file) files")
    assert(statsMsg.contains(s"over 2 columns"), statsMsg)

    // the layout is real on BOTH keys: a 1/8-domain predicate on either
    // layout column skips at least one file via parquet footer stats
    // alone (the >=half skip ratios are measured at FANIN scale in
    // ZOrderSpec/FanIn; with a handful of files here, >0 pins that the
    // z-interleave reached the file boundaries on both columns)
    if (oa >= 4) {
      val envP = ZOrder.fileEnvelopes(spark, s"$whDir/mt_lineitem", "l_partkey")
        .filterNot(_.rows == 0)
      val envS = ZOrder.fileEnvelopes(spark, s"$whDir/mt_lineitem", "l_suppkey")
        .filterNot(_.rows == 0)
      val pHi = envP.map(_.max).max / 8
      val sHi = envS.map(_.max).max / 8
      assert(ZOrder.skippable(envP, 0L, pHi) > 0,
        "the optimized layout must skip files on the first layout key")
      assert(ZOrder.skippable(envS, 0L, sHi) > 0,
        "the optimized layout must skip files on the second layout key")
    }

    // all four MAINTENANCE commands land in the query log, expanded
    val queries = ledger.allQueries.map(_.sql)
    assert(queries.exists(_.startsWith("compact ")))
    assert(queries.exists(_.startsWith("delete_where predicate=")))
    assert(queries.exists(_.startsWith("optimize_zorder cols=l_partkey,l_suppkey")))
    assert(queries.exists(_.startsWith("refresh_stats cols=l_partkey,l_suppkey")))

    // the final step's manifest covers exactly the final layout's files
    val manifested = wh.read(spark, wh.statsTable("mt_lineitem"))
      .select("file").distinct().count()
    assert(manifested == oa.toLong,
      s"refresh_stats must manifest the post-optimize files ($oa), got $manifested")

    // the mutex claim is structural: the maintained table IS the
    // Zieltabelle, so the claim set covers it without any command
    // parameter agreeing with it
    val spec = EndToEnd.maintenanceWorkflowSpec()
    val maintSteps = spec.packages(62L).realizations.head.steps
    assert(maintSteps.forall(s => StepSpec.claimedTables(s) == Set("mt_lineitem")))
  }

  test("step and direct call do not drift: same content, same file count") {
    val (result, _, wh, whDir) = EndToEnd.runMaintenanceWorkflow(spark, sf)
    assert(result.success)
    // twin table maintained through the Warehouse API directly
    val dir2 = graft.util.TempDirs.scratch("graft-mt-direct")
    val wh2 = new Warehouse(dir2)
    val src = Tables.load(spark, sf, "lineitem")
      .filter("l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND " +
        "l_shipdate < TIMESTAMP '1995-07-01 00:00:00'")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_shipdate")
    wh2.append(src.filter("l_shipdate < TIMESTAMP '1995-04-01 00:00:00'"), "mt_twin")
    wh2.append(src.filter("l_shipdate >= TIMESTAMP '1995-04-01 00:00:00'"), "mt_twin")
    wh2.compact(spark, "mt_twin", targetRowsPerFile = 1000000L)
    assert(wh2.deleteWhere(spark, "mt_twin",
      "l_shipdate < TIMESTAMP '1995-02-01 00:00:00'", remanifest = true))
    val (_, filesDirect) = wh2.optimizeZOrder(spark, "mt_twin",
      Seq("l_partkey", "l_suppkey"), bits = 6, targetRowsPerFile = 256L, quantile = true)
    wh2.refreshStats(spark, "mt_twin", Seq("l_partkey", "l_suppkey"))

    val stepFiles = ZOrder.fileEnvelopes(spark, s"$whDir/mt_lineitem", "l_partkey")
      .count(_.rows > 0)
    assert(filesDirect == stepFiles, "step and direct maintenance must produce the same file count")
    val cols = src.columns.map(org.apache.spark.sql.functions.col).toSeq
    assert(wh.read(spark, "mt_lineitem").select(cols: _*)
      .exceptAll(wh2.read(spark, "mt_twin").select(cols: _*)).isEmpty &&
      wh2.read(spark, "mt_twin").select(cols: _*)
        .exceptAll(wh.read(spark, "mt_lineitem").select(cols: _*)).isEmpty,
      "step-maintained and directly-maintained tables must hold the same multiset")
  }

  test("induced failure: unknown action fails the step, successor cascade-aborts, fallback compensates") {
    val (result, ledger, _, _) = EndToEnd.runMaintenanceWorkflow(spark, sf, induceFailure = true)
    assert(!result.success && result.fallbackRan && result.error.isDefined)
    assert(result.error.get.getMessage.contains("unknown MAINTENANCE action 'vacuum'"))
    val rows = ledger.current
    def stepRow(ref: Long) = rows.find(r => r.level == RunLevel.Schritt && r.refId == ref)
    assert(stepRow(6100L).exists(_.erfolgreich) && stepRow(6110L).exists(_.erfolgreich))
    assert(stepRow(6200L).exists(r => r.istAbgeschlossen && !r.erfolgreich))
    assert(Seq(6210L, 6220L, 6230L).forall(stepRow(_).isEmpty),
      "retention, optimize and refresh_stats must be cascade-aborted " +
        "(no run rows), not executed on the broken table")
    assert(stepRow(6900L).exists(r => r.istAbgeschlossen && r.erfolgreich),
      "the compensation step must execute after the failure")
  }

  test("Zeitscheibe on a MAINTENANCE step is rejected loudly") {
    Tables.registerAll(spark, sf)
    val ledger = new RunLedger(() => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val ctx = StepContext(spark, new Warehouse(graft.util.TempDirs.scratch("graft-mt-zs")),
      ledger, Macros.Context(
        workflowId = 1L,
        takeoverVon = LocalDateTime.of(1995, 1, 1, 0, 0),
        takeoverBis = LocalDateTime.of(1995, 7, 1, 0, 0)))
    val ex = intercept[IllegalArgumentException] {
      Steps.execute(StepSpec(7000, CommandType.Copy, TaskType.Maintenance,
        "compact", zieltabelle = Some("mt_zs"), zeitscheibe = true), ctx)
    }
    assert(ex.getMessage.contains("Zeitscheibe is not defined for MAINTENANCE steps"))
  }
}

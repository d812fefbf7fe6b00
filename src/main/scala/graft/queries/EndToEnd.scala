package graft.queries

import java.time.LocalDateTime

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Tables, Warehouse}
import graft.ledger.RunLedger
import graft.macros.Macros
import graft.orchestrate._
import graft.report.Reports
import graft.schedule.Takeover
import graft.steps.{CommandType, StepContext, StepSpec, Steps, TaskType}

/** End-to-end verification queries: each runs a REAL workflow through
  * the orchestrator (FSM → package DAG → priority groups → gated steps
  * with ledger rows and actual parquet writes) and exposes a
  * deterministic readback the DuckDB oracle can reproduce from the
  * source tables + constants. This is SURVEY §7.3's minimum slice wired
  * into the correctness gate — the row counts the engine writes into
  * `ErwarteteDaten` must equal what DuckDB counts.
  */
object EndToEnd {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private val FixedClock = LocalDateTime.of(2026, 2, 1, 12, 0, 0)
  private val CopyFilter = "l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"

  /** Run `spec` through the orchestrator the way every lifecycle gate
    * does: a fresh ledger, a warehouse at `whDir`, an 8-step cap with
    * table and Parallelsperre locks, all at the fixed clock.
    */
  private def runWorkflow(s: SparkSession, whDir: String, spec: WorkflowSpec,
      zeitplanAusfuehrungenId: Long): (WorkflowResult, RunLedger, Warehouse) = {
    val ledger = new RunLedger(() => FixedClock)
    val wh = new Warehouse(whDir)
    val runner = new WorkflowRunner(
      new WorkflowManager, ledger, new Gates.ThreadCap(8),
      new Gates.TableLocks, new Gates.ParallelLocks, clock = () => FixedClock)
    val result = runner.run(spec, zeitplanAusfuehrungenId,
      (m: Macros.Context, stepRunId: Option[Long], real: RealizationSpec) =>
        StepContext(s, wh, ledger, m, schrittRunId = stepRunId,
          konfigurationenId = real.konfigurationenId))
    (result, ledger, wh)
  }

  /** One slice execution per (session, sf-dir): q20 verifies the
    * written data, q21 the ledger of the SAME run — memoized so the
    * pair measures one workflow execution plus two independent
    * readbacks (like the reference: one run, many reports).
    */
  private val sliceCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (RunLedger, Warehouse)]

  private def runSlice(spark: SparkSession, dir: String): (RunLedger, Warehouse) =
    sliceCache.getOrElseUpdate((spark, dir), runSliceUncached(spark, dir))

  private def runSliceUncached(spark: SparkSession, dir: String): (RunLedger, Warehouse) = {
    Tables.registerAll(spark, dir)
    val view = s"li_src_${System.nanoTime()}"
    val spec = WorkflowSpec(
      id = 1, masterPackageId = 10,
      takeover = Takeover.Config(uebernahmeVon = Some(LocalDateTime.of(1990, 1, 1, 0, 0))),
      packages = Map(
        10L -> PackageSpec(10, realizations = Seq(RealizationSpec(
          100, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(1000, CommandType.SqlTarget, TaskType.Sql,
              s"CREATE OR REPLACE TEMP VIEW $view AS " +
                s"SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem WHERE $CopyFilter",
              schrittReihenfolge = 1),
            StepSpec(1001, CommandType.Copy, TaskType.Sql,
              s"SELECT * FROM $view",
              zieltabelle = Some("lineitem_copy"), schrittReihenfolge = 2)))))))
    val (result, ledger, wh) = runWorkflow(spark, graft.util.TempDirs.scratch("graft-e2e"),
      spec, zeitplanAusfuehrungenId = 7)
    result.error.foreach(throw _)
    (ledger, wh)
  }

  /** The COPY step's written output read back: audit columns + grouped
    * row accounting. DuckDB reproduces it from `lineitem` + the audit
    * constants — if the step wrote wrong rows or wrong audit values,
    * the hash breaks.
    */
  val q20 = QueryDef(
    "q20_workflow_e2e",
    (s, dir) => {
      val (_, wh) = runSlice(s, dir)
      wh.read(s, "lineitem_copy")
        .groupBy(col("l_returnflag"), col("nutzer"), col("datenproduzent"),
          col("abfragezeitpunkt"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag, 'etl_user' AS nutzer, 'graft' AS datenproduzent,
             TIMESTAMP '2026-01-01 00:00:00' AS abfragezeitpunkt,
             COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY 1 ORDER BY 1"""))

  /** The run ledger itself, summarized per level through the report
    * module's timeline view: run counts, success flags, moved rows and
    * the fixed-clock timestamps. The oracle knows exactly what a
    * successful 1-package/1-realization/2-step run must write —
    * including that `ErwarteteDaten` equals DuckDB's own count of the
    * copied rows.
    */
  val q21 = QueryDef(
    "q21_ledger_report",
    (s, dir) => {
      val (ledger, _) = runSlice(s, dir)
      Reports.timeline(ledger.latest(s))
        .groupBy(col("level"))
        .agg(
          count(lit(1)).as("n_runs"),
          sum(when(col("erfolgreich"), 1L).otherwise(0L)).as("n_success"),
          sum(when(col("istAbgeschlossen"), 1L).otherwise(0L)).as("n_closed"),
          sum(col("erwarteteDaten")).as("rows_moved"),
          max(col("start").cast("timestamp_ntz")).as("started_at"))
        .orderBy(col("level"))
    },
    Some(s"""
      WITH copied AS (
        SELECT COUNT(*) AS n FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      )
      SELECT * FROM (
        SELECT 'paket' AS level, CAST(1 AS BIGINT) AS n_runs,
               CAST(1 AS BIGINT) AS n_success, CAST(1 AS BIGINT) AS n_closed,
               CAST(NULL AS BIGINT) AS rows_moved,
               TIMESTAMP '2026-02-01 12:00:00' AS started_at
        UNION ALL
        SELECT 'paketschritt', 2, 2, 2, (SELECT n FROM copied),
               TIMESTAMP '2026-02-01 12:00:00'
        UNION ALL
        SELECT 'paketumsetzung', 1, 1, 1, NULL, TIMESTAMP '2026-02-01 12:00:00'
        UNION ALL
        SELECT 'workflow', 1, 1, 1, NULL, TIMESTAMP '2026-02-01 12:00:00'
      ) ORDER BY level"""))

  /** Timesliced COPY through the full stack: a workflow whose single
    * step is a Zeitscheibe COPY over a 2-year takeover window — the
    * month windows come from the real Takeover → MonthWindows → macro
    * substitution path, the slices union into one parallel write, and
    * the readback grouped by month must match DuckDB's plain range scan
    * (proving slice-union == unsliced at gate level, VERDICT item 8).
    */
  val q36 = QueryDef(
    "q36_timeslice_e2e",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val spec = WorkflowSpec(
        id = 2, masterPackageId = 20,
        takeover = Takeover.Config(
          uebernahmeVon = Some(LocalDateTime.of(1996, 1, 1, 0, 0)),
          uebernahmeBis = Some(LocalDateTime.of(1997, 12, 31, 23, 59, 59))),
        packages = Map(20L -> PackageSpec(20, realizations = Seq(RealizationSpec(
          200, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(2000, CommandType.Copy, TaskType.Sql,
            "SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem " +
              "WHERE l_shipdate BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##",
            zieltabelle = Some("li_sliced"), zeitscheibe = true)))))))
      val (result, _, wh) = runWorkflow(s, graft.util.TempDirs.scratch("graft-e2e-ts"),
        spec, zeitplanAusfuehrungenId = 8)
      result.error.foreach(throw _)
      wh.read(s, "li_sliced")
        .groupBy(date_trunc("month", col("l_shipdate")).cast("timestamp_ntz").as("slice_from"))
        .agg(
          count(lit(1)).as("rows_copied"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("slice_revenue"))
    },
    Some("""
      SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS slice_from,
             COUNT(*) AS rows_copied,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS slice_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <= TIMESTAMP '1997-12-31 23:59:59'
      GROUP BY 1"""))

  /** `.xlsx` ingest through the FULL S3 TRANSFER lifecycle: nation rows
    * (typed — ints, shared strings, a per-row timestamp) are written to a
    * real xlsx package by [[graft.sources.Xlsx.write]], dropped into
    * `{dir}/Insert`, and ingested by the real TRANSFER/EXCEL step
    * (Insert→TMP move, decode, audit columns, idempotent delete, append,
    * file delete). The readback casts the decoded strings back to their
    * types, so DuckDB reproduces the result from the `nation` parquet
    * alone — a wrong decode (shared-string index, number rendering, date
    * serial) breaks the hash.
    */
  val q42 = QueryDef(
    "q42_xlsx_ingest",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val base = java.nio.file.Paths.get(graft.util.TempDirs.scratch("graft-xlsx"))
      val insert = base.resolve("Insert")
      java.nio.file.Files.createDirectories(insert)
      val asof0 = LocalDateTime.of(2026, 1, 15, 10, 30, 0)
      val rows = s.table("nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
        .collect().toSeq // 25-row dimension — fixture generation, not a data path
        .map { r =>
          val k = r.getInt(0)
          Seq(k, r.getString(1), r.getInt(2), asof0.plusDays(k.toLong))
        }
      graft.sources.Xlsx.write(insert.resolve("nation.xlsx").toString,
        header = Seq("n_nationkey", "n_name", "n_regionkey", "asof"), rows = rows)
      val ledger = new RunLedger(() => FixedClock)
      val wh = new Warehouse(
        graft.util.TempDirs.scratch("graft-xlsx-wh"))
      val ctx = StepContext(s, wh, ledger,
        Macros.Context(3L, asof0, asof0), abfragezeitpunkt = FixedClock)
      Steps.execute(
        StepSpec(4200, CommandType.Transfer, TaskType.Excel, base.toString,
          zieltabelle = Some("nation_xlsx")),
        ctx)
      wh.read(s, "nation_xlsx")
        .select(
          col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"),
          col("asof").cast("timestamp_ntz").as("asof"),
          col("dateiname"))
        .orderBy(col("n_nationkey"))
    },
    Some("""
      SELECT n_nationkey, n_name, n_regionkey,
             TIMESTAMP '2026-01-15 10:30:00' + n_nationkey * INTERVAL 1 DAY AS asof,
             'nation.xlsx' AS dateiname
      FROM nation ORDER BY n_nationkey"""))

  /** Keyed upsert (SCD-1 merge) end-to-end — [[Warehouse.upsert]]: an
    * initial load (even order keys) takes a batch whose keys overlap
    * (all keys ≤ 1000, prices doubled); matched rows are REPLACED,
    * unmatched batch rows insert, untouched rows survive. The oracle
    * recomputes the final table state relationally (batch ∪ initial
    * minus batch keys). The rewrite is delete-matching + union + the
    * crash-safe swap — the plan Delta's MERGE compiles to; the batch
    * key set broadcasts (a batch is bounded, the table is not).
    */
  val q53 = QueryDef(
    "q53_upsert_merge",
    (s, dir) => {
      import s.implicits._
      val wh = new Warehouse(graft.util.TempDirs.scratch("q53wh"))
      val orders = Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice".cast("decimal(12,2)").as("price"))
      wh.append(orders.filter($"o_orderkey" % 2 === 0), "tgt")
      val batch = orders.filter($"o_orderkey" <= 1000)
        .withColumn("price", ($"price" * 2).cast("decimal(12,2)"))
      wh.upsert(s, "tgt", batch, Seq("o_orderkey"))
      wh.read(s, "tgt")
        .select($"o_orderkey", $"o_orderstatus", $"price".cast("double").as("price"))
    },
    Some("""
      WITH src AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders
      ), initial AS (
        SELECT * FROM src WHERE o_orderkey % 2 = 0
      ), batch AS (
        SELECT o_orderkey, o_orderstatus, CAST(price * 2 AS DECIMAL(12,2)) AS price
        FROM src WHERE o_orderkey <= 1000
      )
      SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price FROM batch
      UNION ALL
      SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM initial WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)"""))

  /** The curation workflow fixture (r12, VERDICT next #1) — the q86
    * pipeline expressed as CONFIG: a 3-package DAG (prepare → stats →
    * select) whose steps execute the [[graft.operators.Curation]]
    * stages through [[graft.steps.Transforms]] as PIPELINE steps, plus
    * a fallback package. Placeholders do real work: the TAKEOVER WINDOW
    * selects the ingest slice (its day-of-month range maps onto the
    * doc_id ring — the synthetic corpus carries no date column, so the
    * ring position stands in for the date partition a production corpus
    * would prune by) and `##Workflow_ID##` feeds the decontamination
    * holdout slice. Package 32 runs decontaminate ∥ repetition under a
    * 2-slot step cap (disjoint table claims); package 33 chains span
    * removal → mixture/budget sequentially with quelltabelle mutex
    * claims on the stage tables. `induceFailure` points span removal at
    * a missing verdict table — the induced stage failure whose
    * cancellation cascade + fallback compensation
    * CurationWorkflowSpec asserts ledger-row by ledger-row.
    */
  private[graft] def curationWorkflowSpec(view: String,
      induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 7, // ##Workflow_ID## IS the decontamination holdout residue
    masterPackageId = 33,
    fallbackPackageId = Some(39L),
    takeover = Takeover.Config(
      uebernahmeVon = Some(LocalDateTime.of(1996, 3, 1, 0, 0)),
      uebernahmeBis = Some(LocalDateTime.of(1996, 3, 28, 23, 59, 59))),
    packages = Map(
      31L -> PackageSpec(31, realizations = Seq(RealizationSpec(
        310, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(3100, CommandType.SqlTarget, TaskType.Sql,
          s"CREATE OR REPLACE TEMP VIEW $view AS " +
            "SELECT doc_id, text, lang, source FROM documents " +
            "WHERE pmod(doc_id, 100) BETWEEN ##Uebernahme_von## % 100 " +
            "AND ##Uebernahme_bis## % 100"))))),
      32L -> PackageSpec(32, dependencies = Seq(31L), realizations = Seq(RealizationSpec(
        320, anzahlParalleleSchritte = 2,
        steps = Seq(
          StepSpec(3200, CommandType.Copy, TaskType.Pipeline,
            s"decontaminate in=$view holdout=##Workflow_ID##",
            zieltabelle = Some("cur_clean"), schrittReihenfolge = 1),
          StepSpec(3201, CommandType.Copy, TaskType.Pipeline,
            s"repetition in=$view",
            zieltabelle = Some("cur_keep"), schrittReihenfolge = 2))))),
      33L -> PackageSpec(33, dependencies = Seq(32L), realizations = Seq(RealizationSpec(
        330, anzahlParalleleSchritte = 1,
        steps = Seq(
          StepSpec(3300, CommandType.Copy, TaskType.Pipeline,
            s"span_removal docs=$view " +
              s"clean=${if (induceFailure) "cur_missing" else "cur_clean"} " +
              "keep=cur_keep n=8",
            zieltabelle = Some("cur_cleaned"),
            quelltabelle = Some("cur_clean,cur_keep"), schrittReihenfolge = 1),
          StepSpec(3301, CommandType.Copy, TaskType.Pipeline,
            "mixture_budget in=cur_cleaned epoch=1000 budget=800",
            zieltabelle = Some("cur_manifest"),
            quelltabelle = Some("cur_cleaned"), schrittReihenfolge = 2))))),
      39L -> PackageSpec(39, realizations = Seq(RealizationSpec(
        390, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(3900, CommandType.SqlTarget, TaskType.Sql,
          s"CREATE OR REPLACE TEMP VIEW ${view}_compensation AS " +
            "SELECT 'epoch aborted' AS status")))))))

  /** Run the curation workflow fixture and read its manifest back. */
  private[graft] def runCurationWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    val view = s"cur_src_${System.nanoTime()}"
    runWorkflow(s, graft.util.TempDirs.scratch("graft-cur-wf"),
      curationWorkflowSpec(view, induceFailure),
      zeitplanAusfuehrungenId = 9)
  }

  /** The curation pipeline run AS a workflow (r12, VERDICT next #1):
    * the engine's two proven halves finally meet — q86's stage chain
    * (decontaminate → repetition → span removal → mixture → budget)
    * executed as PIPELINE steps under the full orchestrator (FSM, 3-
    * package DAG, priority groups, step caps, table mutexes, ledger
    * rows, macro expansion), with the takeover window slicing the
    * corpus and `##Workflow_ID##` parameterizing the holdout. The
    * final-manifest readback must hash-match DuckDB recomputing the
    * whole five-stage pipeline from the source table + the fixture
    * constants — if any step wrote wrong rows, read a stale stage
    * table, or mis-expanded a placeholder, the gate breaks. Ledger
    * semantics of the same fixture (and the induced-failure → fallback
    * path) are pinned by CurationWorkflowSpec.
    */
  val q103 = QueryDef(
    "q103_curation_workflow",
    (s, dir) => {
      val (result, _, wh) = runCurationWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "cur_manifest")
        .select(col("doc_id"), col("lang"), col("source"), col("toks_clean"),
          col("n_repeats"), col("cum_tokens"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang, source,
          regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
        WHERE doc_id % 100 BETWEEN 1 AND 28
      ), g AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 4 THEN
            list_distinct(list_transform(generate_series(1, len(t)-3),
              i -> list_aggregate(t[i:i+3], 'string_agg', ' ')))
          ELSE [] END) AS gram
        FROM toks
      ), h AS (
        SELECT doc_id, CAST('0x' || substr(md5(gram),1,8) AS BIGINT) AS gh FROM g
      ), ev AS (
        SELECT DISTINCT gh FROM h WHERE doc_id % 10 = 7
      ), contaminated AS (
        SELECT DISTINCT h.doc_id FROM h JOIN ev USING (gh) WHERE h.doc_id % 10 != 7
      ), bgbase AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
          CASE WHEN len(t) >= 2 THEN
            list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
          ELSE [] END AS bg
        FROM toks
      ), bgstats AS (
        SELECT doc_id, n_tokens, CAST(len(bg) AS BIGINT) AS n_bg,
          CASE WHEN n_tokens > 0
            THEN 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / n_tokens ELSE 0.0 END AS dup
        FROM bgbase
      ), cnts AS (
        SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(bg) AS g2 FROM bgbase) GROUP BY doc_id, g2
      ), topbg AS (
        SELECT doc_id, c FROM (
          SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g2) AS rn
          FROM cnts) WHERE rn = 1
      ), keepb AS (
        SELECT s.doc_id FROM bgstats s LEFT JOIN topbg USING (doc_id)
        WHERE s.dup <= 0.65
          AND (CASE WHEN s.n_bg > 0 THEN CAST(topbg.c AS DOUBLE) / s.n_bg ELSE 0.0 END) <= 0.08
      ), surv AS (
        SELECT toks.* FROM toks
        WHERE doc_id % 10 != 7
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND doc_id IN (SELECT doc_id FROM keepb)
      ), sp AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-7),
          i -> struct_pack(s := i,
            g := t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                 t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))) AS u
        FROM surv WHERE len(t) >= 8
      ), starts AS (
        SELECT doc_id, u.s AS s, u.g AS gg FROM sp
      ), dfreq AS (
        SELECT gg, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, gg FROM starts) GROUP BY gg
      ), hot_starts AS (
        SELECT starts.doc_id, starts.s FROM starts JOIN dfreq USING (gg) WHERE dfreq.df >= 2
      ), isl AS (
        SELECT doc_id, s,
          CASE WHEN s > COALESCE(MAX(s + 7) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
          THEN 1 ELSE 0 END AS new_isl
        FROM hot_starts
      ), isl2 AS (
        SELECT doc_id, s,
          SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
      ), cuts AS (
        SELECT doc_id, island, MIN(s) AS cut_start, MAX(s) + 7 AS cut_end
        FROM isl2 GROUP BY doc_id, island
      ), covered AS (
        SELECT doc_id, unnest(generate_series(cut_start, cut_end)) AS i FROM cuts
      ), pos AS (
        SELECT doc_id, unnest(t) AS tok, unnest(generate_series(1, len(t))) AS i FROM surv
      ), keptagg AS (
        SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS cleaned,
          CAST(COUNT(*) AS BIGINT) AS toks_clean
        FROM pos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.i = c.i
        WHERE c.i IS NULL GROUP BY p.doc_id
      ), cleaned AS (
        SELECT s.doc_id, s.lang, s.source, k.toks_clean, k.cleaned
        FROM surv s JOIN keptagg k USING (doc_id)
        WHERE k.toks_clean > 0
      ), counts AS (
        SELECT lang, COUNT(*) AS c FROM cleaned GROUP BY lang
      ), qs AS (
        SELECT lang, c,
          CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576.0) AS BIGINT) AS qv
        FROM counts
      ), ms AS (
        SELECT CAST(SUM(qv) AS HUGEINT) AS mass FROM qs
      ), rt AS (
        SELECT lang,
          CAST(num // den AS BIGINT) AS base,
          CAST(((num % den) * 1000) // den AS BIGINT) AS thresh
        FROM (SELECT lang, CAST(qv AS HUGEINT) * 1000 AS num,
                mass * CAST(c AS HUGEINT) AS den FROM qs, ms)
      ), csig AS (
        SELECT doc_id, lang, source, toks_clean,
          regexp_split_to_array(trim(lower(cleaned)), '\s+') AS ct,
          CAST(length(cleaned) AS BIGINT) AS n_chars_c,
          CAST(length(cleaned) - length(regexp_replace(cleaned, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        FROM cleaned
      ), cscored AS (
        SELECT doc_id, lang, source, toks_clean,
          least(CAST(len(ct) AS DOUBLE) / 100.0, 1.0) * 0.5
            + least(CAST(len(list_filter(ct, x -> list_contains(['the','and','of','to','a','in','is','der','die','und','das','ist','ein','el','la','de','que','y','es'], x))) AS DOUBLE) / len(ct) * 4.0, 1.0) * 0.5
            - least(CAST(n_punct AS DOUBLE) / n_chars_c * 5.0, 1.0) * 0.25 AS q
        FROM csig
      ), ctake AS (
        SELECT doc_id, lang, source, toks_clean,
          SUM(toks_clean) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM cscored
      )
      SELECT t.doc_id, t.lang, t.source,
        CAST(t.toks_clean AS BIGINT) AS toks_clean,
        CAST(rt.base +
          CASE WHEN CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
                 < rt.thresh
               THEN 1 ELSE 0 END AS BIGINT) AS n_repeats,
        CAST(t.cum_tokens AS BIGINT) AS cum_tokens
      FROM ctake t JOIN rt USING (lang)
      WHERE t.cum_tokens <= 800"""))

  /** The near-dup workflow fixture (r13, VERDICT next #3): signal →
    * action as chained PIPELINE steps — package 42 labels the corpus's
    * LSH band-collision components ([[graft.operators.NearDup]]
    * through the `neardup_components` transform, writing the label
    * table), package 43 prunes against that table (`neardup_prune`,
    * reading the PREVIOUS step's Zieltabelle back through the
    * warehouse — the stage-chaining contract, claimed in the table
    * mutex via quelltabelle). `induceFailure` points the prune at a
    * missing label table: the step fails loudly, the cascade aborts
    * the realization, and the fallback package compensates —
    * NearDupWorkflowSpec pins the ledger rows.
    */
  private[graft] def neardupWorkflowSpec(view: String,
      induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 8,
    masterPackageId = 43,
    fallbackPackageId = Some(49L),
    packages = Map(
      41L -> PackageSpec(41, realizations = Seq(RealizationSpec(
        410, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(4100, CommandType.SqlTarget, TaskType.Sql,
          s"CREATE OR REPLACE TEMP VIEW $view AS " +
            "SELECT doc_id, text, n_chars FROM documents"))))),
      42L -> PackageSpec(42, dependencies = Seq(41L), realizations = Seq(RealizationSpec(
        420, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(4200, CommandType.Copy, TaskType.Pipeline,
          s"neardup_components in=$view k=12 bands=4",
          zieltabelle = Some("nd_labels")))))),
      43L -> PackageSpec(43, dependencies = Seq(42L), realizations = Seq(RealizationSpec(
        430, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(4300, CommandType.Copy, TaskType.Pipeline,
          s"neardup_prune docs=$view " +
            s"labels=${if (induceFailure) "nd_missing" else "nd_labels"}",
          zieltabelle = Some("nd_manifest"),
          quelltabelle = Some("nd_labels")))))),
      49L -> PackageSpec(49, realizations = Seq(RealizationSpec(
        490, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(4900, CommandType.SqlTarget, TaskType.Sql,
          s"CREATE OR REPLACE TEMP VIEW ${view}_compensation AS " +
            "SELECT 'prune aborted' AS status")))))))

  /** Run the near-dup workflow fixture. */
  private[graft] def runNeardupWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    val view = s"nd_src_${System.nanoTime()}"
    runWorkflow(s, graft.util.TempDirs.scratch("graft-nd-wf"),
      neardupWorkflowSpec(view, induceFailure),
      zeitplanAusfuehrungenId = 10)
  }

  /** Near-dup dedup run AS a workflow (r13, VERDICT next #3): q88's
    * component labels and q95's prune manifest executed as chained
    * PIPELINE steps under the full orchestrator, the prune reading the
    * label step's warehouse table. The manifest readback must
    * hash-match DuckDB recomputing label propagation (recursive CTE
    * over the materialized edge list — oracle-scale only; the engine
    * never builds edges) and the per-cluster prune from the source
    * table — q95's oracle verbatim, so a wrong label table, a stale
    * read, or a broken stage chain breaks the gate.
    */
  val q106 = QueryDef(
    "q106_neardup_workflow",
    (s, dir) => {
      val (result, _, wh) = runNeardupWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "nd_manifest")
        .select(col("doc_id"), col("n_members"), col("chars_dropped"))
    },
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [] END AS shingles
        FROM toks
      ), sig AS (
        SELECT doc_id,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM sh WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, b, md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), edges AS (
        SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
        FROM bands a JOIN bands c ON a.b = c.b AND a.band_key = c.band_key
          AND a.doc_id <> c.doc_id
      ), reach AS (
        SELECT doc_id AS u, doc_id AS lbl FROM sig
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
      ), labeled AS (
        SELECT d.doc_id, d.n_chars, COALESCE(mn.comp, d.doc_id) AS cluster_id
        FROM documents d
        LEFT JOIN (SELECT u AS doc_id, MIN(lbl) AS comp FROM reach GROUP BY 1) mn
          USING (doc_id)
      )
      SELECT cluster_id AS doc_id, COUNT(*) AS n_members,
        CAST(SUM(CASE WHEN doc_id = cluster_id THEN 0 ELSE n_chars END) AS BIGINT)
          AS chars_dropped
      FROM labeled GROUP BY 1"""))

  /** The streaming-ingest workflow fixture (r13, VERDICT next #4):
    * package 51 COPIES the historic fingerprint keyset into the
    * warehouse (an ordinary step-written table, audit columns and
    * all); package 52's STREAM step chains off it — bootstraps the
    * stream's bare (key, batch) keyset + bitmap from that seed, then
    * starts and DRAINS the q105 bloom-dedup stream over the arrival
    * folder under the full orchestrator. `induceFailure` points the
    * stream at a watch dir that does not exist: the query fails on
    * start, `awaitTermination` rethrows, the step fails, and the
    * fallback package compensates (StreamWorkflowSpec pins the ledger
    * rows).
    */
  private[graft] def streamWorkflowSpec(fpView: String, inDir: String,
      ckptDir: String, induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 9,
    masterPackageId = 52,
    fallbackPackageId = Some(59L),
    packages = Map(
      51L -> PackageSpec(51, realizations = Seq(RealizationSpec(
        510, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(5100, CommandType.Copy, TaskType.Sql,
          s"SELECT fingerprint FROM $fpView WHERE pmod(doc_id, 4) IN (1, 2)",
          zieltabelle = Some("bl_hist")))))),
      52L -> PackageSpec(52, dependencies = Seq(51L), realizations = Seq(RealizationSpec(
        520, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(5200, CommandType.Copy, TaskType.Stream,
          s"bloom_ingest_stream dir=${if (induceFailure) s"$inDir-missing" else inDir} " +
            s"ckpt=$ckptDir " +
            "schema=\"doc_id BIGINT, fingerprint STRING\" " +
            "key=fingerprint seed=bl_hist seen=bl_seen bloom=bl_bloom " +
            "out=bl_admitted mbits=65536 k=5 maxfiles=1",
          zieltabelle = Some("bl_admitted"),
          quelltabelle = Some("bl_hist,bl_seen,bl_bloom")))))),
      59L -> PackageSpec(59, realizations = Seq(RealizationSpec(
        590, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(5900, CommandType.SqlTarget, TaskType.Sql,
          s"CREATE OR REPLACE TEMP VIEW ${fpView}_compensation AS " +
            "SELECT 'ingest aborted' AS status")))))))

  /** Build the arrival-folder fixture + fp view, run the workflow. */
  private[graft] def runStreamWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    import org.apache.spark.sql.functions.pmod
    Tables.registerAll(s, dir)
    val base = graft.util.TempDirs.scratch("graft-stream-wf")
    val fp = s.table("documents").select(col("doc_id"),
      graft.functions.TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))
    val fpView = s"bl_fp_${System.nanoTime()}"
    fp.createOrReplaceTempView(fpView)
    // two arrival files, strictly increasing mtimes (the q105 ordering
    // contract: the file source drains oldest-first)
    def writeArrival(n: Int, slice: Long, mtime: Long): Unit =
      graft.util.TempDirs.dropParquet(fp.filter(pmod(col("doc_id"), lit(4L)) === slice),
        s"$base/in/batch$n.parquet", Some(mtime))
    writeArrival(1, 0L, 1700000000000L)
    writeArrival(2, 3L, 1700000100000L)
    runWorkflow(s, s"$base/wh",
      streamWorkflowSpec(fpView, s"$base/in", s"$base/ckpt", induceFailure),
      zeitplanAusfuehrungenId = 11)
  }

  /** Streaming ingest run AS a workflow (r13, VERDICT next #4): the
    * q105 bloom-dedup stream started, drained, and ledgered under
    * `WorkflowRunner` — a COPY step seeds the historic keyset, the
    * STREAM step bootstraps its state tables from it and drains two
    * mtime-ordered arrival files through the crash-safe incremental
    * dedup. The admitted readback must hash-match q105's oracle
    * verbatim (batch 1 admits against historic, batch 2 against
    * historic ∪ batch 1) — a broken bootstrap, a mis-ordered drain, or
    * a stale seed table breaks the gate. Ledger/fallback semantics are
    * pinned by StreamWorkflowSpec.
    */
  val q107 = QueryDef(
    "q107_streaming_workflow",
    (s, dir) => {
      val (result, _, wh) = runStreamWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "bl_admitted")
        .select(col("batch").cast("long").as("batch"), col("doc_id"), col("fingerprint"))
    },
    Some("""
      WITH fp AS (
        SELECT doc_id,
          md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fingerprint
        FROM documents
      )
      SELECT CAST(1 AS BIGINT) AS batch, doc_id, fingerprint FROM fp
      WHERE doc_id % 4 = 0
        AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 IN (1, 2))
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS batch, doc_id, fingerprint FROM fp
      WHERE doc_id % 4 = 3
        AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 IN (0, 1, 2))"""))

  /** The maintenance workflow fixture (r13): append-heavy table →
    * warehouse maintenance as steps. Package 61's two COPY steps append
    * two contiguous quarter slices of `lineitem` into one table (the
    * file-accumulation shape every append-heavy table develops);
    * package 62 runs `compact` then `optimize_zorder` as MAINTENANCE
    * steps on that table — the maintained table is the Zieltabelle, so
    * the table mutex covers the stats-to-rewrite window structurally
    * (see [[graft.steps.TaskType.Maintenance]]). `induceFailure` swaps
    * the compact command for an unknown action: the step fails loudly
    * and the fallback package compensates (MaintenanceWorkflowSpec pins
    * the ledger rows and the file accounting).
    */
  private[graft] def maintenanceWorkflowSpec(
      induceFailure: Boolean = false): WorkflowSpec = {
    def slice(from: String, to: String): String =
      "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
        "l_extendedprice, l_shipdate FROM lineitem " +
        s"WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$to'"
    WorkflowSpec(
      id = 10,
      masterPackageId = 62,
      fallbackPackageId = Some(69L),
      packages = Map(
        61L -> PackageSpec(61, realizations = Seq(RealizationSpec(
          610, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(6100, CommandType.Copy, TaskType.Sql,
              slice("1995-01-01 00:00:00", "1995-04-01 00:00:00"),
              zieltabelle = Some("mt_lineitem"), schrittReihenfolge = 0),
            StepSpec(6110, CommandType.Copy, TaskType.Sql,
              slice("1995-04-01 00:00:00", "1995-07-01 00:00:00"),
              zieltabelle = Some("mt_lineitem"), schrittReihenfolge = 1))))),
        62L -> PackageSpec(62, dependencies = Seq(61L), realizations = Seq(RealizationSpec(
          620, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(6200, CommandType.Copy, TaskType.Maintenance,
              if (induceFailure) "vacuum retention=0" else "compact rows_per_file=1000000",
              zieltabelle = Some("mt_lineitem"), schrittReihenfolge = 0),
            // retention BEFORE the layout pass (r13 round tail): a
            // deleting rewrite does not preserve a z-order layout, so
            // the realistic maintenance order is drop → lay out → manifest
            StepSpec(6210, CommandType.Copy, TaskType.Maintenance,
              "delete_where predicate=\"l_shipdate < TIMESTAMP '1995-02-01 00:00:00'\"",
              zieltabelle = Some("mt_lineitem"), schrittReihenfolge = 1),
            StepSpec(6220, CommandType.Copy, TaskType.Maintenance,
              "optimize_zorder cols=l_partkey,l_suppkey bits=6 rows_per_file=256 quantile=true",
              zieltabelle = Some("mt_lineitem"), schrittReihenfolge = 2),
            StepSpec(6230, CommandType.Copy, TaskType.Maintenance,
              "refresh_stats cols=l_partkey,l_suppkey",
              zieltabelle = Some("mt_lineitem"), schrittReihenfolge = 3))))),
        69L -> PackageSpec(69, realizations = Seq(RealizationSpec(
          690, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(6900, CommandType.SqlTarget, TaskType.Sql,
            "CREATE OR REPLACE TEMP VIEW mt_compensation AS " +
              "SELECT 'maintenance aborted' AS status")))))))
  }

  /** Run the maintenance workflow fixture. */
  private[graft] def runMaintenanceWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse, String) = {
    Tables.registerAll(s, dir)
    val whDir = graft.util.TempDirs.scratch("graft-mt-wf")
    val (result, ledger, wh) = runWorkflow(s, whDir,
      maintenanceWorkflowSpec(induceFailure), zeitplanAusfuehrungenId = 12)
    (result, ledger, wh, whDir)
  }

  /** Warehouse maintenance run AS a workflow (r13): two COPY appends
    * accumulate a table, then the full maintenance pass runs as
    * MAINTENANCE steps under the orchestrator — `compact`, the
    * `delete_where` retention cut (the one action that changes
    * contents BY DESIGN: rows before the retention horizon drop
    * through the crash-safe rewrite), `optimize_zorder (quantile)`,
    * and `refresh_stats` (the manifest re-collected over the final
    * layout). The readback must hash-match DuckDB evaluating the COPY
    * slices MINUS the retention window directly: a dropped survivor
    * row, an under-deleted straggler, a clamped-away value, or a type
    * drift in any rewrite breaks the gate. The layout/file-count
    * effects — the part maintenance actually buys — are pinned by
    * MaintenanceWorkflowSpec on the same run (footer-envelope skipping
    * on BOTH layout keys, message-log accounting, mutex claim set,
    * fallback path).
    */
  val q109 = QueryDef(
    "q109_maintenance_workflow",
    (s, dir) => {
      val (result, _, wh, _) = runMaintenanceWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "mt_lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_shipdate"))
    },
    Some("""
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        l_extendedprice, l_shipdate
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-02-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1995-07-01 00:00:00'"""))

  /** The ANN index workflow fixture (r13): train → assign → search as
    * chained PIPELINE steps. Package 72 trains the flat k-means
    * codebook into a warehouse table (`kmeans_train` — fixed-point
    * deterministic, so the parquet round trip is value-identical to an
    * in-session book), package 73 assigns every corpus vector against
    * that table (`ivf_assign`), package 74 probes + scores queries
    * against both index tables (`ann_search`). The index is thereby an
    * ordinary pair of warehouse tables a workflow builds and maintains
    * — claimed in the table mutex like any other stage chain.
    * `induceFailure` points the search at a missing assignment table.
    */
  private[graft] def annWorkflowSpec(view: String,
      induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 11,
    masterPackageId = 74,
    fallbackPackageId = Some(79L),
    packages = Map(
      71L -> PackageSpec(71, realizations = Seq(RealizationSpec(
        710, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7100, CommandType.SqlTarget, TaskType.Sql,
          s"CREATE OR REPLACE TEMP VIEW $view AS " +
            "SELECT vec_id, embedding FROM embeddings"))))),
      72L -> PackageSpec(72, dependencies = Seq(71L), realizations = Seq(RealizationSpec(
        720, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7200, CommandType.Copy, TaskType.Pipeline,
          s"kmeans_train in=$view k=4 iters=1",
          zieltabelle = Some("ann_book")))))),
      73L -> PackageSpec(73, dependencies = Seq(72L), realizations = Seq(RealizationSpec(
        730, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7300, CommandType.Copy, TaskType.Pipeline,
          s"ivf_assign in=$view book=ann_book",
          zieltabelle = Some("ann_assign"),
          quelltabelle = Some("ann_book")))))),
      74L -> PackageSpec(74, dependencies = Seq(73L), realizations = Seq(RealizationSpec(
        740, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7400, CommandType.Copy, TaskType.Pipeline,
          s"ann_search in=$view book=ann_book " +
            s"assign=${if (induceFailure) "ann_missing" else "ann_assign"} " +
            "queries_below=30 nprobe=2 topk=3",
          zieltabelle = Some("ann_topk"),
          quelltabelle = Some("ann_book,ann_assign")))))),
      79L -> PackageSpec(79, realizations = Seq(RealizationSpec(
        790, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7900, CommandType.SqlTarget, TaskType.Sql,
          s"CREATE OR REPLACE TEMP VIEW ${view}_compensation AS " +
            "SELECT 'search aborted' AS status")))))))

  /** Run the ANN workflow fixture. */
  private[graft] def runAnnWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    val view = s"ann_src_${System.nanoTime()}"
    runWorkflow(s, graft.util.TempDirs.scratch("graft-ann-wf"),
      annWorkflowSpec(view, induceFailure),
      zeitplanAusfuehrungenId = 13)
  }

  /** ANN index lifecycle AS a workflow (r13): k-means training, corpus
    * assignment, and probed top-k search executed as three chained
    * PIPELINE steps whose index artifacts are warehouse TABLES — the
    * search reads the book and assignments back from parquet, so the
    * gate also pins that the index survives the storage round trip
    * bit-for-bit (fixed-point training means, strict-fold distances).
    * Oracle = DuckDB re-deriving the one-iteration Lloyd book, the
    * corpus cells, the 2-probe query cells, and the exact within-cell
    * cosine top-3 — q68's training CTEs composed with q67's search
    * tail on a flat index. A stale table read, a book that lost
    * precision in storage, or a broken stage chain breaks the hash.
    */
  val q110 = QueryDef(
    "q110_ann_workflow",
    (s, dir) => {
      val (result, _, wh) = runAnnWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "ann_topk")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
    },
    Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      ), n AS (
        SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm FROM v
      ), seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        FROM v ORDER BY vec_id LIMIT 4
      ), d1 AS (
        SELECT v.vec_id, s.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (v.e[i]-s.ce[i])*(v.e[i]-s.ce[i]))),
            (a,b) -> a+b) AS d
        FROM v CROSS JOIN seeds s
      ), a1 AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d1) WHERE rn = 1
      ), px1 AS (
        SELECT a1.cell, i.i AS pos,
          CAST(floor(v.e[i.i] * 1073741824.0) AS HUGEINT) AS q
        FROM a1 JOIN v USING (vec_id)
        CROSS JOIN (SELECT unnest(generate_series(1,64)) AS i) i
      ), c1 AS (
        SELECT cell, pos, (CAST(SUM(q) AS DOUBLE) / 1073741824.0) / COUNT(*) AS val
        FROM px1 GROUP BY 1, 2
      ), book AS (
        SELECT cell AS cid, list(val ORDER BY pos) AS ce FROM c1 GROUP BY cell
      ), d2 AS (
        SELECT v.vec_id, b.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (v.e[i]-b.ce[i])*(v.e[i]-b.ce[i]))),
            (a,b) -> a+b) AS d
        FROM v CROSS JOIN book b
      ), corpus AS (
        SELECT a.vec_id, a.cell, n.e, n.nrm
        FROM (SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d2) WHERE rn = 1) a JOIN n USING (vec_id)
      ), probes AS (
        SELECT vec_id AS query_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d2 WHERE vec_id < 30) WHERE rn <= 2
      ), qv AS (
        SELECT p.query_id, p.cell, n.e, n.nrm
        FROM probes p JOIN n ON n.vec_id = p.query_id
      ), scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> q.e[i]*c.e[i])), (a,b) -> a+b)
            / (q.nrm * c.nrm) AS cosine
        FROM qv q JOIN corpus c ON c.cell = q.cell AND c.vec_id <> q.query_id
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
      )
      SELECT query_id, rnk, neighbor_id, cosine FROM ranked WHERE rnk <= 3"""))

  /** The assembly workflow fixture (r13): the post-selection TAIL of
    * the training-data pipeline — per-source token-budget take →
    * deterministic split → sequence packing — as three chained PIPELINE
    * steps (`budget_take` / `hash_split` / `token_pack`, the
    * q82/q59/q61 bodies out of [[graft.operators.Assembly]], one
    * implementation). `induceFailure` points the packer's split
    * restriction at a missing table.
    */
  private[graft] def assemblyWorkflowSpec(
      induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 12,
    masterPackageId = 84,
    fallbackPackageId = Some(89L),
    packages = Map(
      81L -> PackageSpec(81, realizations = Seq(RealizationSpec(
        810, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(8100, CommandType.Copy, TaskType.Pipeline,
          "budget_take in=documents budget=800",
          zieltabelle = Some("as_take")))))),
      82L -> PackageSpec(82, dependencies = Seq(81L), realizations = Seq(RealizationSpec(
        820, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(8200, CommandType.Copy, TaskType.Pipeline,
          "hash_split in=as_take",
          zieltabelle = Some("as_split"),
          quelltabelle = Some("as_take")))))),
      83L -> PackageSpec(83, dependencies = Seq(82L), realizations = Seq(RealizationSpec(
        830, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(8300, CommandType.Copy, TaskType.Pipeline,
          "token_pack in=documents " +
            s"only=${if (induceFailure) "as_missing" else "as_split"} " +
            "split=train pack=4096",
          zieltabelle = Some("as_packs"),
          quelltabelle = Some("as_split")))))),
      84L -> PackageSpec(84, dependencies = Seq(83L), realizations = Seq(RealizationSpec(
        840, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(8400, CommandType.Copy, TaskType.Pipeline,
          "shard_shuffle in=as_packs shards=8",
          zieltabelle = Some("as_shards"),
          quelltabelle = Some("as_packs")))))),
      89L -> PackageSpec(89, realizations = Seq(RealizationSpec(
        890, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(8900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW as_compensation AS " +
            "SELECT 'assembly aborted' AS status")))))))

  /** Run the assembly workflow fixture. */
  private[graft] def runAssemblyWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    runWorkflow(s, graft.util.TempDirs.scratch("graft-as-wf"),
      assemblyWorkflowSpec(induceFailure),
      zeitplanAusfuehrungenId = 14)
  }

  /** Training-set assembly AS a workflow (r13): budget take, hash
    * split, sequence packing, and the deterministic shard shuffle
    * chained as PIPELINE steps under the full orchestrator — stage
    * outputs are warehouse tables, the packer restricts to the split
    * step's train ids by left-semi join, the shard step places every
    * pack, and the oracle recomposes all FOUR stages in DuckDB from
    * `documents` alone (q82's quality/budget CTEs → q59's md5 split →
    * q61's prefix-sum packing → q115's hash shard placement). A broken
    * stage chain, a drifted stage body, a split leak into the packed
    * set, or a nondeterministic shuffle breaks the hash.
    */
  val q113 = QueryDef(
    "q113_assembly_workflow",
    (s, dir) => {
      val (result, _, wh) = runAssemblyWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "as_shards")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"),
          col("shard"), col("shard_pos"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id, source,
          regexp_split_to_array(trim(lower(text)), '\s+') AS t,
          CAST(length(text) AS BIGINT) AS n_chars_c,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents
      ), sig AS (
        SELECT doc_id, source,
          CAST(len(t) AS BIGINT) AS toks, n_chars_c, n_punct,
          CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','der','die','und','das','ist','ein','el','la','de','que','y','es'], x))) AS BIGINT) AS stop_hits
        FROM base
      ), scored AS (
        SELECT doc_id, source, toks,
          least(CAST(toks AS DOUBLE) / 100.0, 1.0) * 0.5
            + least(CAST(stop_hits AS DOUBLE) / toks * 4.0, 1.0) * 0.5
            - least(CAST(n_punct AS DOUBLE) / n_chars_c * 5.0, 1.0) * 0.25 AS q
        FROM sig
      ), c AS (
        SELECT doc_id, source, toks,
          SUM(toks) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM scored
      ), take AS (
        SELECT doc_id, source, toks FROM c WHERE cum_tokens <= 800
      ), train AS (
        SELECT doc_id FROM take
        WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80
      ), packed0 AS (
        SELECT t.doc_id, t.source, t.toks AS n_tokens,
          SUM(t.toks) OVER (PARTITION BY t.source ORDER BY t.doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM take t JOIN train USING (doc_id)
      ), packed AS (
        SELECT doc_id, source, n_tokens,
               CAST((cum - n_tokens) // 4096 AS BIGINT) AS pack_id
        FROM packed0
      ), packs AS (
        SELECT source, pack_id,
          CAST('0x' || substr(md5(source || ':' || CAST(pack_id AS VARCHAR)), 1, 8)
            AS BIGINT) AS h
        FROM (SELECT DISTINCT source, pack_id FROM packed)
      ), placed AS (
        SELECT source, pack_id, h % 8 AS shard,
          CAST(ROW_NUMBER() OVER (PARTITION BY h % 8
            ORDER BY h, source, pack_id) AS BIGINT) - 1 AS shard_pos
        FROM packs
      )
      SELECT p.doc_id, p.source, p.n_tokens, p.pack_id, d.shard, d.shard_pos
      FROM packed p JOIN placed d USING (source, pack_id)"""))

  /** The pruned-read workflow fixture (r14, VERDICT r13 missing #1):
    * the READ side of the stats manifest reachable from the step
    * surface. Package 91's two COPY steps append two quarter slices of
    * `lineitem`; package 92 lays the table out (`optimize_zorder
    * quantile`) and persists the manifest (`refresh_stats`); package 93
    * first appends a THIRD slice the manifest has never seen, then runs
    * the `pruned_read` PIPELINE transform — a rectangle on both layout
    * keys planned from the manifest ([[graft.catalog.Warehouse
    * .statsPrunedScan]]), its scheduled/total file counts message-
    * logged like MAINTENANCE file accounting. `induceFailure` points
    * the read at a missing table (views have no manifest — loud
    * failure, not a silent unpruned fallback).
    */
  private[graft] def prunedReadWorkflowSpec(
      induceFailure: Boolean = false): WorkflowSpec = {
    def slice(from: String, to: String): String =
      "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity FROM lineitem " +
        s"WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$to'"
    WorkflowSpec(
      id = 15,
      masterPackageId = 93,
      fallbackPackageId = Some(99L),
      packages = Map(
        91L -> PackageSpec(91, realizations = Seq(RealizationSpec(
          910, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(9100, CommandType.Copy, TaskType.Sql,
              slice("1995-01-01 00:00:00", "1995-04-01 00:00:00"),
              zieltabelle = Some("pr_lineitem"), schrittReihenfolge = 0),
            StepSpec(9110, CommandType.Copy, TaskType.Sql,
              slice("1995-04-01 00:00:00", "1995-07-01 00:00:00"),
              zieltabelle = Some("pr_lineitem"), schrittReihenfolge = 1))))),
        92L -> PackageSpec(92, dependencies = Seq(91L), realizations = Seq(RealizationSpec(
          920, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(9200, CommandType.Copy, TaskType.Maintenance,
              "optimize_zorder cols=l_partkey,l_suppkey bits=6 rows_per_file=128 quantile=true",
              zieltabelle = Some("pr_lineitem"), schrittReihenfolge = 0),
            StepSpec(9210, CommandType.Copy, TaskType.Maintenance,
              "refresh_stats cols=l_partkey,l_suppkey",
              zieltabelle = Some("pr_lineitem"), schrittReihenfolge = 1))))),
        93L -> PackageSpec(93, dependencies = Seq(92L), realizations = Seq(RealizationSpec(
          930, anzahlParalleleSchritte = 1,
          steps = Seq(
            // the stale-manifest append: its rows MUST still come back
            // through the pruned read (the freshness rule at the step
            // surface, q112's pin under the orchestrator)
            StepSpec(9300, CommandType.Copy, TaskType.Sql,
              slice("1995-07-01 00:00:00", "1995-10-01 00:00:00"),
              zieltabelle = Some("pr_lineitem"), schrittReihenfolge = 0),
            StepSpec(9310, CommandType.Copy, TaskType.Pipeline,
              s"pruned_read in=${if (induceFailure) "pr_missing" else "pr_lineitem"} " +
                "ranges=\"l_partkey=10..59,l_suppkey=3..20\"",
              zieltabelle = Some("pr_slice"),
              quelltabelle = Some("pr_lineitem"), schrittReihenfolge = 1))))),
        99L -> PackageSpec(99, realizations = Seq(RealizationSpec(
          990, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(9900, CommandType.SqlTarget, TaskType.Sql,
            "CREATE OR REPLACE TEMP VIEW pr_compensation AS " +
              "SELECT 'pruned read aborted' AS status")))))))
  }

  /** Run the pruned-read workflow fixture. */
  private[graft] def runPrunedReadWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    runWorkflow(s, graft.util.TempDirs.scratch("graft-pr-wf"),
      prunedReadWorkflowSpec(induceFailure),
      zeitplanAusfuehrungenId = 15)
  }

  /** Manifest-pruned reads AS a workflow step (r14, VERDICT r13
    * missing #1 executed): append → z-order → `refresh_stats` → a
    * stale-manifest append → a `pruned_read` PIPELINE step whose
    * rectangle scan is PLANNED from the persisted manifest (only
    * envelope-intersecting files scheduled — counts in the message
    * log) and written to the step's Zieltabelle with the full COPY
    * lifecycle. The oracle evaluates the rectangle over the three COPY
    * slices directly: a file dropped despite holding a qualifying row
    * — including any row of the append the manifest has never seen —
    * breaks the hash. The scheduling claims (files really pruned,
    * dispatch message-logged) are PrunedReadWorkflowSpec's.
    */
  val q116 = QueryDef(
    "q116_pruned_read_workflow",
    (s, dir) => {
      val (result, _, wh) = runPrunedReadWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "pr_slice")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
    },
    Some("""
      SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
        AND l_partkey BETWEEN 10 AND 59
        AND l_suppkey BETWEEN 3 AND 20"""))

  /** The sessionization-stream workflow fixture (r14, VERDICT r13
    * missing #3): the q55 stateful sessionizer as a STREAM step, with a
    * BATCH consumer chained off its sink — package 111 drains the event
    * drop folder through `sessionize_stream` (closed sessions append to
    * a metadata-logged parquet sink), package 112's COPY step reads the
    * sink back batch-side (`parquet.` over the sink dir — the
    * `_spark_metadata` commit log makes that read exactly the committed
    * set) and aggregates per-user session stats into a warehouse table.
    * `induceFailure` points the stream at a missing drop folder.
    */
  private[graft] def sessionStreamWorkflowSpec(inDir: String, ckptDir: String,
      outDir: String, induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 16,
    masterPackageId = 112,
    fallbackPackageId = Some(119L),
    packages = Map(
      111L -> PackageSpec(111, realizations = Seq(RealizationSpec(
        1110, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(11100, CommandType.Copy, TaskType.Stream,
          s"sessionize_stream dir=${if (induceFailure) s"$inDir-missing" else inDir} " +
            s"ckpt=$ckptDir " +
            "schema=\"user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE\" " +
            s"out=$outDir",
          zieltabelle = Some("ss_sessions")))))),
      112L -> PackageSpec(112, dependencies = Seq(111L), realizations = Seq(RealizationSpec(
        1120, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(11200, CommandType.Copy, TaskType.Sql,
          "SELECT user_id, count(*) AS n_sessions, sum(n_events) AS total_events " +
            s"FROM parquet.`$outDir` WHERE closed GROUP BY user_id",
          zieltabelle = Some("ss_user_stats"),
          quelltabelle = Some("ss_sessions")))))),
      119L -> PackageSpec(119, realizations = Seq(RealizationSpec(
        1190, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(11900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW ss_compensation AS " +
            "SELECT 'sessionization aborted' AS status")))))))

  /** Build the single-arrival-file fixture + run the session workflow. */
  private[graft] def runSessionStreamWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    val base = graft.util.TempDirs.scratch("graft-ss-wf")
    // ONE arrival file = ONE data batch (+ the no-data flush batch), the
    // q55 emission contract the oracle reproduces; ts pre-normalized by
    // Tables.load so both testdata generations stream identically
    graft.util.TempDirs.dropParquet(Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value")),
      s"$base/in/events1.parquet", None)
    runWorkflow(s, s"$base/wh",
      sessionStreamWorkflowSpec(s"$base/in", s"$base/ckpt", s"$base/out", induceFailure),
      zeitplanAusfuehrungenId = 16)
  }

  /** Stateful sessionization AS a workflow stream step, composed with a
    * batch consumer (r14, VERDICT r13 missing #3 executed): the STREAM
    * step drains the drop folder through `flatMapGroupsWithState`
    * (closed sessions only — gap-closed by a later event, or
    * timeout-closed once the final watermark passes `last + gap`), and
    * the downstream COPY step aggregates the sink per user into the
    * gate's warehouse table. The oracle recomputes q55's session
    * assignment and closure condition relationally, then applies the
    * consumer's GROUP BY — a broken stream/batch handoff (torn sink
    * read, double-counted replay, lost session) breaks the hash.
    * Ledger/drain semantics are StreamRegistrySpec's.
    */
  val q117 = QueryDef(
    "q117_streaming_session_workflow",
    (s, dir) => {
      val (result, _, wh) = runSessionStreamWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "ss_user_stats")
        .select(col("user_id"), col("n_sessions"), col("total_events"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      ), flagged AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), sess AS (
        SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
      ), agg AS (
        SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS last_ts,
               COUNT(*) AS n_events
        FROM sess GROUP BY 1, 2
      ), wm AS (
        SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e
      ), closed AS (
        SELECT a.user_id, a.n_events
        FROM agg a, wm
        WHERE a.sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = a.user_id)
           OR a.last_ts + INTERVAL 30 MINUTE < wm.w
      )
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(n_events) AS BIGINT) AS total_events
      FROM closed GROUP BY 1"""))

  /** The streaming-SemDeDup workflow fixture (r14): admission control
    * as a STREAM step whose CENTROIDS are a table a previous step wrote
    * — package 121's COPY seeds the (cid, ce) codebook (the q91 seed
    * shape; a `kmeans_train` book drops into the same slot), package
    * 122 drains the vector drop folder through `semdedup_stream`
    * (closure-path cell assignment, RocksDB per-cell state, closed
    * admissions to a metadata-logged sink). `induceFailure` points the
    * stream at a missing centroid table.
    */
  private[graft] def semdedupStreamWorkflowSpec(inDir: String, ckptDir: String,
      outDir: String, induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 17,
    masterPackageId = 122,
    fallbackPackageId = Some(129L),
    packages = Map(
      121L -> PackageSpec(121, realizations = Seq(RealizationSpec(
        1210, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(12100, CommandType.Copy, TaskType.Sql,
          "SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS ce " +
            "FROM embeddings WHERE vec_id < 8",
          zieltabelle = Some("sd_cents")))))),
      122L -> PackageSpec(122, dependencies = Seq(121L), realizations = Seq(RealizationSpec(
        1220, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(12200, CommandType.Copy, TaskType.Stream,
          s"semdedup_stream dir=$inDir ckpt=$ckptDir " +
            "schema=\"vec_id BIGINT, embedding ARRAY<FLOAT>\" " +
            s"out=$outDir cents=${if (induceFailure) "sd_missing" else "sd_cents"} " +
            "threshold=0.3",
          zieltabelle = Some("sd_admitted"),
          quelltabelle = Some("sd_cents")))))),
      129L -> PackageSpec(129, realizations = Seq(RealizationSpec(
        1290, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(12900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW sd_compensation AS " +
            "SELECT 'semdedup aborted' AS status")))))))

  /** Build the single-arrival-file vector fixture + run the workflow. */
  private[graft] def runSemdedupStreamWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false)
      : (graft.orchestrate.WorkflowResult, RunLedger, Warehouse, String) = {
    Tables.registerAll(s, dir)
    val base = graft.util.TempDirs.scratch("graft-sd-wf")
    // ONE id-ordered arrival file = the operator's ordering contract
    // met by construction (ids non-decreasing across micro-batches)
    graft.util.TempDirs.dropParquet(s.table("embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .orderBy(col("vec_id")),
      s"$base/in/vecs1.parquet", None)
    val (result, ledger, wh) = runWorkflow(s, s"$base/wh",
      semdedupStreamWorkflowSpec(s"$base/in", s"$base/ckpt", s"$base/out", induceFailure),
      zeitplanAusfuehrungenId = 17)
    (result, ledger, wh, s"$base/out")
  }

  /** Streaming SemDeDup AS a workflow step with table-fed centroids
    * (r14 — the last gate-only streaming family step-reachable): the
    * COPY step seeds the codebook table, the STREAM step assigns cells
    * through the closure path against it and runs the q96 admission
    * chain in RocksDB state. Oracle = q96's, verbatim — a drifted
    * assignment slot, a torn codebook read, or a broken admission chain
    * breaks the hash exactly as it would on the gate.
    */
  val q118 = QueryDef(
    "q118_streaming_semdedup_workflow",
    (s, dir) => {
      val (result, _, _, out) = runSemdedupStreamWorkflow(s, dir)
      result.error.foreach(throw _)
      s.read.schema("vec_id BIGINT, cell BIGINT").parquet(out)
    },
    Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      ), n AS (
        SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm FROM v
      ), cents AS (
        SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8
      ), dists AS (
        SELECT n.vec_id, c.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (n.e[i]-c.ce[i])*(n.e[i]-c.ce[i]))),
            (a,b) -> a+b) AS d
        FROM n CROSS JOIN cents c
      ), assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM dists) WHERE rn = 1
      ), an AS (
        SELECT n.*, a.cell FROM n JOIN assigned a USING (vec_id)
      ), dup AS (
        SELECT DISTINCT b.vec_id
        FROM an a JOIN an b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= 0.3
      )
      SELECT vec_id, cell FROM an WHERE vec_id NOT IN (SELECT vec_id FROM dup)"""))

  /** The windowed-counts-stream workflow fixture (r14 — the q54
    * watermarked tumbling-window aggregation as a STREAM step, composed
    * with a batch consumer): package 131 drains the event drop folder
    * through `windowed_counts_stream` (only watermark-CLOSED windows
    * append to the metadata-logged sink), package 132's COPY step reads
    * the sink back batch-side and aggregates per event type into a
    * warehouse table. `induceFailure` points the stream at a missing
    * drop folder.
    */
  private[graft] def windowedCountsWorkflowSpec(inDir: String, ckptDir: String,
      outDir: String, induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 18,
    masterPackageId = 132,
    fallbackPackageId = Some(139L),
    packages = Map(
      131L -> PackageSpec(131, realizations = Seq(RealizationSpec(
        1310, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(13100, CommandType.Copy, TaskType.Stream,
          s"windowed_counts_stream dir=${if (induceFailure) s"$inDir-missing" else inDir} " +
            s"ckpt=$ckptDir " +
            "schema=\"user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE\" " +
            s"out=$outDir",
          zieltabelle = Some("wc_windows")))))),
      132L -> PackageSpec(132, dependencies = Seq(131L), realizations = Seq(RealizationSpec(
        1320, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(13200, CommandType.Copy, TaskType.Sql,
          "SELECT event_type, count(*) AS n_windows, sum(n) AS total_events " +
            s"FROM parquet.`$outDir` GROUP BY event_type",
          zieltabelle = Some("wc_type_stats"),
          quelltabelle = Some("wc_windows")))))),
      139L -> PackageSpec(139, realizations = Seq(RealizationSpec(
        1390, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(13900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW wc_compensation AS " +
            "SELECT 'windowed counts aborted' AS status")))))))

  /** Build the single-arrival-file fixture + run the windowed-counts
    * workflow (the q117 fixture shape on the same events corpus). */
  private[graft] def runWindowedCountsWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    val base = graft.util.TempDirs.scratch("graft-wc-wf")
    graft.util.TempDirs.dropParquet(Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value")),
      s"$base/in/events1.parquet", None)
    runWorkflow(s, s"$base/wh",
      windowedCountsWorkflowSpec(s"$base/in", s"$base/ckpt", s"$base/out", induceFailure),
      zeitplanAusfuehrungenId = 18)
  }

  /** Watermarked windowed counts AS a workflow stream step with a batch
    * consumer (r14 — closes the STREAM-transform gate coverage: every
    * registered stream transform now carries an oracle-gated workflow).
    * The oracle recomputes q54's closed-window subset relationally
    * (per-window counts where `window_end <= max(ts) − watermark`, the
    * final watermark of a drained AvailableNow run) and applies the
    * consumer's GROUP BY — an open window leaked to the sink, a torn
    * sink read, or a double-counted replay breaks the hash. Drain
    * lifecycle and ledger semantics are StreamRegistrySpec's.
    */
  val q119 = QueryDef(
    "q119_streaming_counts_workflow",
    (s, dir) => {
      val (result, _, wh) = runWindowedCountsWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "wc_type_stats")
        .select(col("event_type"), col("n_windows"), col("total_events"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
      ), agg AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n
        FROM e GROUP BY 1, 2
      ), wm AS (
        SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e
      ), closed AS (
        SELECT a.event_type, a.n
        FROM agg a, wm
        WHERE a.window_start + INTERVAL 1 HOUR <= wm.w
      )
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_windows,
        CAST(SUM(n) AS BIGINT) AS total_events
      FROM closed GROUP BY 1"""))

  /** The DSIR-scoring-stream workflow fixture (r14): stateless streaming
    * importance scoring whose LM corpus is a table a previous step wrote
    * — package 141's COPY seeds the (doc_id, text, lang) LM table,
    * package 142 drains the document drop folder through
    * `dsir_score_stream` (batch-trained bounded LM shipped as a literal
    * map, every arriving doc scores map-side), package 143's COPY step
    * reads the sink back batch-side and takes the q108-shaped top-100 by
    * normalized mean weight into a warehouse table. `induceFailure`
    * points the LM build at a missing table.
    */
  private[graft] def dsirStreamWorkflowSpec(inDir: String, ckptDir: String,
      outDir: String, induceFailure: Boolean = false): WorkflowSpec = WorkflowSpec(
    id = 19,
    masterPackageId = 143,
    fallbackPackageId = Some(149L),
    packages = Map(
      141L -> PackageSpec(141, realizations = Seq(RealizationSpec(
        1410, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(14100, CommandType.Copy, TaskType.Sql,
          "SELECT doc_id, text, lang FROM documents",
          zieltabelle = Some("dw_lm")))))),
      142L -> PackageSpec(142, dependencies = Seq(141L), realizations = Seq(RealizationSpec(
        1420, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(14200, CommandType.Copy, TaskType.Stream,
          s"dsir_score_stream dir=$inDir ckpt=$ckptDir " +
            "schema=\"doc_id BIGINT, text STRING\" " +
            s"out=$outDir lm=${if (induceFailure) "dw_missing" else "dw_lm"} " +
            "target_lang=en",
          zieltabelle = Some("dw_scored"),
          quelltabelle = Some("dw_lm")))))),
      143L -> PackageSpec(143, dependencies = Seq(142L), realizations = Seq(RealizationSpec(
        1430, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(14300, CommandType.Copy, TaskType.Sql,
          "SELECT doc_id, n_feats, dsir_weight DIV n_feats AS w_mean, dsir_weight " +
            s"FROM parquet.`$outDir` ORDER BY w_mean DESC, doc_id LIMIT 100",
          zieltabelle = Some("dw_top"),
          quelltabelle = Some("dw_scored")))))),
      149L -> PackageSpec(149, realizations = Seq(RealizationSpec(
        1490, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(14900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW dw_compensation AS " +
            "SELECT 'dsir scoring aborted' AS status")))))))

  /** Build the single-arrival-file document fixture + run the DSIR
    * stream workflow. */
  private[graft] def runDsirStreamWorkflow(s: SparkSession, dir: String,
      induceFailure: Boolean = false): (graft.orchestrate.WorkflowResult, RunLedger, Warehouse) = {
    Tables.registerAll(s, dir)
    val base = graft.util.TempDirs.scratch("graft-dw-wf")
    graft.util.TempDirs.dropParquet(Tables.load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text")),
      s"$base/in/docs1.parquet", None)
    runWorkflow(s, s"$base/wh",
      dsirStreamWorkflowSpec(s"$base/in", s"$base/ckpt", s"$base/out", induceFailure),
      zeitplanAusfuehrungenId = 19)
  }

  /** Streaming DSIR scoring AS a workflow with table-fed LM and a
    * q108-shaped batch consumer (r14): a three-package DAG — seed LM →
    * stream-score → top-k — whose oracle is q98's per-doc scoring CTE
    * with the consumer's normalized-mean top-100 applied. A drifted
    * hash slot, a weights map trained off the wrong table, or a
    * replayed micro-batch double-scoring a doc breaks the hash.
    */
  val q120 = QueryDef(
    "q120_streaming_dsir_workflow",
    (s, dir) => {
      val (result, _, wh) = runDsirStreamWorkflow(s, dir)
      result.error.foreach(throw _)
      wh.read(s, "dw_top")
        .select(col("doc_id"), col("n_feats"), col("w_mean"), col("dsir_weight"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), occ AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 8192 AS fb
        FROM (
          SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t)-1),
            i -> t[i] || ' ' || t[i+1])) AS f
          FROM t WHERE len(t) >= 2)
      ), ct AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS ct FROM occ WHERE lang = 'en' GROUP BY 1
      ), cr AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS cr FROM occ GROUP BY 1
      ), lm AS (
        SELECT cr.fb, COALESCE(ct.ct, 0) AS ct, cr.cr FROM cr LEFT JOIN ct USING (fb)
      ), w AS (
        SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
          CAST(SUM((1000000 * (lm.ct + 1)) // (lm.cr + 1)) AS BIGINT) AS dsir_weight
        FROM occ o JOIN lm USING (fb)
        GROUP BY 1
      )
      SELECT doc_id, n_feats, CAST(dsir_weight // n_feats AS BIGINT) AS w_mean,
        dsir_weight
      FROM w ORDER BY w_mean DESC, doc_id LIMIT 100"""))

  /** The retention-window workflow fixture (r14 — temporal ranges
    * through the stats-manifest path, end to end): package 65 appends
    * an 18-month slice of `lineitem` and collects a `l_shipdate`
    * manifest; package 66 runs the retention cut as `delete_where
    * range="l_shipdate=*..<horizon>"` — the MANIFEST-PLANNED form whose
    * match probe schedules only envelope-intersecting files and whose
    * bounds are typed per the column (`*` = the open side every
    * "drop everything before the horizon" window has). The deleting
    * rewrite re-manifests, so the follow-up probe in
    * WarehouseStatsSpec's unit twin is metadata-sized.
    */
  private[graft] def retentionWorkflowSpec(): WorkflowSpec = {
    WorkflowSpec(
      id = 17,
      masterPackageId = 66,
      fallbackPackageId = Some(68L),
      packages = Map(
        65L -> PackageSpec(65, realizations = Seq(RealizationSpec(
          650, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(6500, CommandType.Copy, TaskType.Sql,
              "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, " +
                "l_quantity, l_extendedprice, l_shipdate FROM lineitem " +
                "WHERE l_shipdate < TIMESTAMP '1996-07-01 00:00:00'",
              zieltabelle = Some("rt_lineitem"), schrittReihenfolge = 0),
            StepSpec(6510, CommandType.Copy, TaskType.Maintenance,
              "refresh_stats cols=l_shipdate",
              zieltabelle = Some("rt_lineitem"), schrittReihenfolge = 1))))),
        66L -> PackageSpec(66, dependencies = Seq(65L), realizations = Seq(RealizationSpec(
          660, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(6600, CommandType.Copy, TaskType.Maintenance,
            "delete_where range=\"l_shipdate=*..1995-09-30T23:59:59\"",
            zieltabelle = Some("rt_lineitem")))))),
        68L -> PackageSpec(68, realizations = Seq(RealizationSpec(
          680, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(6800, CommandType.SqlTarget, TaskType.Sql,
            "CREATE OR REPLACE TEMP VIEW rt_compensation AS " +
              "SELECT 'retention aborted' AS status")))))))
  }

  /** Temporal retention AS a workflow (r14): the canonical "drop
    * everything before the horizon" maintenance pass on a manifested
    * TIMESTAMP column, run as MAINTENANCE steps under the orchestrator
    * — `refresh_stats cols=l_shipdate`, then `delete_where
    * range="l_shipdate=*..horizon"` (manifest-planned probe, typed
    * bounds, open lower side). The readback must hash-match DuckDB
    * evaluating the COPY slice minus the retention window directly —
    * an over-deleted survivor (inclusive-hi off-by-one), an
    * under-deleted straggler, or a unit slip between the manifest's
    * epoch-micros and the column's type breaks the gate. The
    * scheduling/null-keep/re-manifest claims are WarehouseStatsSpec's.
    */
  val q121 = QueryDef(
    "q121_retention_workflow",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val (result, _, wh) = runWorkflow(s, graft.util.TempDirs.scratch("graft-rt-wf"),
        retentionWorkflowSpec(), zeitplanAusfuehrungenId = 17)
      result.error.foreach(throw _)
      wh.read(s, "rt_lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_shipdate"))
    },
    Some("""
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        l_extendedprice, l_shipdate
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-10-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'"""))

  /** The incremental near-dup LIFECYCLE fixture (r14): build the
    * historic signature table, admit batch 1 against it, APPEND the
    * admitted docs' signatures (the `neardup_signatures ids=` step —
    * history grows only by what was kept), then admit batch 2 against
    * the EXTENDED history — the full production loop of
    * [[graft.operators.NearDup.admitAgainstWithRelease]], each stage a
    * PIPELINE step chained through warehouse tables under the
    * orchestrator (the q101/q105 bloom-lifecycle shape on text).
    */
  private[graft] def neardupLifecycleSpec(hist: String, b1: String,
      b2: String): WorkflowSpec = WorkflowSpec(
    id = 20,
    masterPackageId = 79,
    fallbackPackageId = Some(74L),
    packages = Map(
      75L -> PackageSpec(75, realizations = Seq(RealizationSpec(
        750, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7500, CommandType.Copy, TaskType.Pipeline,
          s"neardup_signatures in=$hist",
          zieltabelle = Some("nd2_hist")))))),
      76L -> PackageSpec(76, dependencies = Seq(75L), realizations = Seq(RealizationSpec(
        760, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7600, CommandType.Copy, TaskType.Pipeline,
          s"neardup_admit in=$b1 hist=nd2_hist",
          zieltabelle = Some("nd2_adm1"), quelltabelle = Some("nd2_hist")))))),
      77L -> PackageSpec(77, dependencies = Seq(76L), realizations = Seq(RealizationSpec(
        770, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7700, CommandType.Copy, TaskType.Pipeline,
          s"neardup_signatures in=$b1 ids=nd2_adm1",
          zieltabelle = Some("nd2_hist"), // APPEND: history grows by the admitted docs
          quelltabelle = Some("nd2_adm1")))))),
      79L -> PackageSpec(79, dependencies = Seq(77L), realizations = Seq(RealizationSpec(
        790, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7900, CommandType.Copy, TaskType.Pipeline,
          s"neardup_admit in=$b2 hist=nd2_hist",
          zieltabelle = Some("nd2_adm2"), quelltabelle = Some("nd2_hist")))))),
      74L -> PackageSpec(74, realizations = Seq(RealizationSpec(
        740, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(7400, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW nd2_compensation AS " +
            "SELECT 'admission aborted' AS status")))))))

  /** Two sequential batches through the incremental near-dup loop AS a
    * workflow. The oracle recomputes BOTH admissions in DuckDB — batch
    * 2's history includes exactly the batch-1 docs the first admission
    * kept, so a wrong append (missing, duplicated, or including a
    * rejected doc) shifts batch 2's candidate counts and admit set (at
    * sf0.01 three batch-2 docs are rejected ONLY via appended batch-1
    * docs — the append is load-bearing, not decorative).
    */
  val q124 = QueryDef(
    "q124_neardup_lifecycle",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val tag = s"nd2_${System.nanoTime()}"
      s.sql(s"CREATE OR REPLACE TEMP VIEW ${tag}_hist AS " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 IN (2, 3)")
      s.sql(s"CREATE OR REPLACE TEMP VIEW ${tag}_b1 AS " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1")
      s.sql(s"CREATE OR REPLACE TEMP VIEW ${tag}_b2 AS " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0")
      val (result, _, wh) = runWorkflow(s, graft.util.TempDirs.scratch("graft-nd2-wf"),
        neardupLifecycleSpec(s"${tag}_hist", s"${tag}_b1", s"${tag}_b2"),
        zeitplanAusfuehrungenId = 20)
      result.error.foreach(throw _)
      wh.read(s, "nd2_adm1")
        .select(lit(1L).as("batch"), col("doc_id"), col("n_hist_candidates"))
        .unionByName(wh.read(s, "nd2_adm2")
          .select(lit(2L).as("batch"), col("doc_id"), col("n_hist_candidates")))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sig AS (
        SELECT doc_id, shingles,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM (
          SELECT doc_id, CASE WHEN len(t) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [] END AS shingles
          FROM toks) WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, shingles, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), cand1 AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 1 AND h.doc_id % 4 IN (2, 3)
        GROUP BY 1, 2
      ), rej1 AS (
        SELECT DISTINCT nd FROM cand1
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc1 AS (
        SELECT nd, count(*) AS n FROM cand1 GROUP BY 1
      ), cand2 AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 0 AND (h.doc_id % 4 IN (2, 3) OR
          (h.doc_id % 4 = 1 AND h.doc_id NOT IN (SELECT nd FROM rej1)))
        GROUP BY 1, 2
      ), rej2 AS (
        SELECT DISTINCT nd FROM cand2
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc2 AS (
        SELECT nd, count(*) AS n FROM cand2 GROUP BY 1
      )
      SELECT CAST(1 AS BIGINT) AS batch, d.doc_id,
             CAST(COALESCE(nc1.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) d
      LEFT JOIN nc1 ON nc1.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej1)
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS batch, d.doc_id,
             CAST(COALESCE(nc2.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN nc2 ON nc2.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej2)"""))

  /** q116's flow with a TEMPORAL layout key (r14 — the last temporal
    * seam composed): append-heavy table → `optimize_zorder
    * cols=l_shipdate,l_partkey quantile=true` (zkeyedQuantile accepts
    * DATE/TIMESTAMP directly) → `refresh_stats` on both keys → a
    * stale-manifest append → a `pruned_read` whose RECTANGLE mixes a
    * wall-clock range with an integral one. The oracle evaluates the
    * mixed rectangle over the COPY slices directly — inclusive-hi
    * wall-time arithmetic, the freshness rule over the stale append,
    * and the epoch-micros↔column-type mapping are all in the hash.
    */
  private[graft] def temporalLayoutWorkflowSpec(): WorkflowSpec = {
    def slice(from: String, to: String): String =
      "SELECT l_orderkey, l_partkey, l_quantity, l_shipdate FROM lineitem " +
        s"WHERE l_shipdate >= TIMESTAMP '$from' AND l_shipdate < TIMESTAMP '$to'"
    WorkflowSpec(
      id = 21,
      masterPackageId = 83,
      fallbackPackageId = Some(89L),
      packages = Map(
        81L -> PackageSpec(81, realizations = Seq(RealizationSpec(
          810, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(8100, CommandType.Copy, TaskType.Sql,
              slice("1995-01-01 00:00:00", "1995-04-01 00:00:00"),
              zieltabelle = Some("pr2_lineitem"), schrittReihenfolge = 0),
            StepSpec(8110, CommandType.Copy, TaskType.Sql,
              slice("1995-04-01 00:00:00", "1995-07-01 00:00:00"),
              zieltabelle = Some("pr2_lineitem"), schrittReihenfolge = 1))))),
        82L -> PackageSpec(82, dependencies = Seq(81L), realizations = Seq(RealizationSpec(
          820, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(8200, CommandType.Copy, TaskType.Maintenance,
              "optimize_zorder cols=l_shipdate,l_partkey bits=6 rows_per_file=128 quantile=true",
              zieltabelle = Some("pr2_lineitem"), schrittReihenfolge = 0),
            StepSpec(8210, CommandType.Copy, TaskType.Maintenance,
              "refresh_stats cols=l_shipdate,l_partkey",
              zieltabelle = Some("pr2_lineitem"), schrittReihenfolge = 1))))),
        83L -> PackageSpec(83, dependencies = Seq(82L), realizations = Seq(RealizationSpec(
          830, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(8300, CommandType.Copy, TaskType.Sql,
              slice("1995-07-01 00:00:00", "1995-10-01 00:00:00"),
              zieltabelle = Some("pr2_lineitem"), schrittReihenfolge = 0),
            StepSpec(8310, CommandType.Copy, TaskType.Pipeline,
              "pruned_read in=pr2_lineitem " +
                "ranges=\"l_shipdate=1995-02-01..1995-08-31T23:59:59,l_partkey=10..120\"",
              zieltabelle = Some("pr2_slice"),
              quelltabelle = Some("pr2_lineitem"), schrittReihenfolge = 1))))),
        89L -> PackageSpec(89, realizations = Seq(RealizationSpec(
          890, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(8900, CommandType.SqlTarget, TaskType.Sql,
            "CREATE OR REPLACE TEMP VIEW pr2_compensation AS " +
              "SELECT 'temporal pruned read aborted' AS status")))))))
  }

  val q125 = QueryDef(
    "q125_temporal_layout_workflow",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val (result, _, wh) = runWorkflow(s, graft.util.TempDirs.scratch("graft-pr2-wf"),
        temporalLayoutWorkflowSpec(), zeitplanAusfuehrungenId = 21)
      result.error.foreach(throw _)
      wh.read(s, "pr2_slice")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_shipdate"))
    },
    Some("""
      SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-02-01 00:00:00'
        AND l_shipdate <= TIMESTAMP '1995-08-31 23:59:59'
        AND l_partkey BETWEEN 10 AND 120"""))

  /** The MANIFEST-PRUNED admission lifecycle fixture (r15, VERDICT r14
    * next #2): build the historic signature table AND its band-table
    * sibling, lay both out for point-set pruning (`optimize_zorder` +
    * `refresh_stats` — key64 on the bands, doc_id on the signatures),
    * then admit the batch with `hist_bands=` so BOTH historic scans are
    * planned through the stats manifests. Same admission semantics as
    * q123 (the oracle is identical) — what this workflow adds is the
    * layout chain and the pruned planning path executing under the
    * orchestrator.
    */
  private[graft] def prunedAdmissionWorkflowSpec(hist: String,
      batch: String): WorkflowSpec = WorkflowSpec(
    id = 22,
    masterPackageId = 153,
    fallbackPackageId = Some(159L),
    packages = Map(
      151L -> PackageSpec(151, realizations = Seq(RealizationSpec(
        1510, anzahlParalleleSchritte = 1,
        steps = Seq(
          StepSpec(15100, CommandType.Copy, TaskType.Pipeline,
            s"neardup_signatures in=$hist",
            zieltabelle = Some("nd4_hist"), schrittReihenfolge = 0),
          StepSpec(15110, CommandType.Copy, TaskType.Pipeline,
            "neardup_bands in=nd4_hist",
            zieltabelle = Some("nd4_bands"),
            quelltabelle = Some("nd4_hist"), schrittReihenfolge = 1))))),
      152L -> PackageSpec(152, dependencies = Seq(151L), realizations = Seq(RealizationSpec(
        1520, anzahlParalleleSchritte = 1,
        steps = Seq(
          StepSpec(15200, CommandType.Copy, TaskType.Maintenance,
            "optimize_zorder cols=key64 rows_per_file=256 quantile=true",
            zieltabelle = Some("nd4_bands"), schrittReihenfolge = 0),
          StepSpec(15210, CommandType.Copy, TaskType.Maintenance,
            "refresh_stats cols=key64",
            zieltabelle = Some("nd4_bands"), schrittReihenfolge = 1),
          StepSpec(15220, CommandType.Copy, TaskType.Maintenance,
            "optimize_zorder cols=doc_id rows_per_file=256 quantile=true",
            zieltabelle = Some("nd4_hist"), schrittReihenfolge = 2),
          StepSpec(15230, CommandType.Copy, TaskType.Maintenance,
            "refresh_stats cols=doc_id",
            zieltabelle = Some("nd4_hist"), schrittReihenfolge = 3))))),
      153L -> PackageSpec(153, dependencies = Seq(152L), realizations = Seq(RealizationSpec(
        1530, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(15300, CommandType.Copy, TaskType.Pipeline,
          s"neardup_admit in=$batch hist=nd4_hist hist_bands=nd4_bands",
          zieltabelle = Some("nd4_adm"), quelltabelle = Some("nd4_hist")))))),
      159L -> PackageSpec(159, realizations = Seq(RealizationSpec(
        1590, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(15900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW nd4_compensation AS " +
            "SELECT 'pruned admission aborted' AS status")))))))

  val q126 = QueryDef(
    "q126_pruned_admission_workflow",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val tag = s"nd4_${System.nanoTime()}"
      s.sql(s"CREATE OR REPLACE TEMP VIEW ${tag}_hist AS " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0")
      s.sql(s"CREATE OR REPLACE TEMP VIEW ${tag}_batch AS " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0")
      val (result, _, wh) = runWorkflow(s, graft.util.TempDirs.scratch("graft-nd4-wf"),
        prunedAdmissionWorkflowSpec(s"${tag}_hist", s"${tag}_batch"), zeitplanAusfuehrungenId = 22)
      result.error.foreach(throw _)
      wh.read(s, "nd4_adm").select(col("doc_id"), col("n_hist_candidates"))
    },
    // identical admission semantics to q123 — the workflow adds the
    // layout + manifest-pruned planning path, which must not move a row
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sig AS (
        SELECT doc_id, shingles,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM (
          SELECT doc_id, CASE WHEN len(t) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [] END AS shingles
          FROM toks) WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, shingles, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), cand AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 0 AND h.doc_id % 4 <> 0
        GROUP BY 1, 2
      ), rej AS (
        SELECT DISTINCT nd FROM cand
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc AS (
        SELECT nd, count(*) AS n FROM cand GROUP BY 1
      )
      SELECT d.doc_id, CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN nc ON nc.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej)"""))

  /** The STREAMING near-dup admission workflow fixture (r15, VERDICT
    * r14 next #3): one STREAM step bootstraps the historic signature
    * table from a seed view, then drains two mtime-ordered arrival
    * files through `neardup_admit_stream` — batch 2 admits against
    * historic ∪ batch 1's appended signatures, the q124 lifecycle as
    * micro-batches of one always-on query instead of chained PIPELINE
    * steps. Crash-replay exactness is StreamsSpec's; the ledger
    * lifecycle is StreamRegistrySpec's.
    */
  private[graft] def neardupStreamWorkflowSpec(seedView: String, inDir: String,
      ckptDir: String): WorkflowSpec = WorkflowSpec(
    id = 23,
    masterPackageId = 161,
    fallbackPackageId = Some(169L),
    packages = Map(
      161L -> PackageSpec(161, realizations = Seq(RealizationSpec(
        1610, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(16100, CommandType.Copy, TaskType.Stream,
          s"neardup_admit_stream dir=$inDir ckpt=$ckptDir " +
            "schema=\"doc_id BIGINT, text STRING\" " +
            s"seed=$seedView hist=nd5_hist out=nd5_admitted wm=nd5_wm maxfiles=1",
          zieltabelle = Some("nd5_admitted"),
          quelltabelle = Some("nd5_hist,nd5_wm")))))),
      169L -> PackageSpec(169, realizations = Seq(RealizationSpec(
        1690, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(16900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW nd5_compensation AS " +
            "SELECT 'stream admission aborted' AS status")))))))

  /** Two sequential micro-batches through the streaming near-dup
    * admission — same two-round oracle as q124 (batch 2's history
    * includes exactly the batch-1 docs the stream admitted, so a wrong
    * signature append, a mis-ordered drain, or a broken bootstrap
    * shifts batch 2's candidate counts and admit set).
    */
  val q127 = QueryDef(
    "q127_neardup_streaming",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val base = graft.util.TempDirs.scratch("graft-nd5-wf")
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val seedView = s"nd5_seed_${System.nanoTime()}"
      docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
        .createOrReplaceTempView(seedView)
      // two arrival files, strictly increasing mtimes (oldest-first drain)
      def writeArrival(n: Int, residue: Long, mtime: Long): Unit =
        graft.util.TempDirs.dropParquet(docs.filter(col("doc_id") % 4 === residue),
          s"$base/in/batch$n.parquet", Some(mtime))
      writeArrival(1, 1L, 1700000000000L)
      writeArrival(2, 0L, 1700000100000L)
      val (result, _, wh) = runWorkflow(s, s"$base/wh",
        neardupStreamWorkflowSpec(seedView, s"$base/in", s"$base/ckpt"),
        zeitplanAusfuehrungenId = 23)
      result.error.foreach(throw _)
      wh.read(s, "nd5_admitted")
        .select(col("batch"), col("doc_id"), col("n_hist_candidates"))
    },
    // q124's two-round oracle verbatim: batch 1 = doc_id%4=1 vs the
    // %4∈(2,3) history, batch 2 = %4=0 vs history ∪ admitted batch 1
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sig AS (
        SELECT doc_id, shingles,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM (
          SELECT doc_id, CASE WHEN len(t) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [] END AS shingles
          FROM toks) WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, shingles, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), cand1 AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 1 AND h.doc_id % 4 IN (2, 3)
        GROUP BY 1, 2
      ), rej1 AS (
        SELECT DISTINCT nd FROM cand1
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc1 AS (
        SELECT nd, count(*) AS n FROM cand1 GROUP BY 1
      ), cand2 AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 0 AND (h.doc_id % 4 IN (2, 3) OR
          (h.doc_id % 4 = 1 AND h.doc_id NOT IN (SELECT nd FROM rej1)))
        GROUP BY 1, 2
      ), rej2 AS (
        SELECT DISTINCT nd FROM cand2
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc2 AS (
        SELECT nd, count(*) AS n FROM cand2 GROUP BY 1
      )
      SELECT CAST(1 AS BIGINT) AS batch, d.doc_id,
             CAST(COALESCE(nc1.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) d
      LEFT JOIN nc1 ON nc1.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej1)
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS batch, d.doc_id,
             CAST(COALESCE(nc2.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN nc2 ON nc2.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej2)"""))

  /** Signature-history RETENTION fixture (r15, VERDICT r14 next #5):
    * the incremental admission's historic signature table grows
    * forever by design — retention is the q121 machinery applied to it:
    * `delete_where range="doc_id=300..*"` cuts the high half of the
    * history between two admissions of the SAME batch. At sf0.01 the
    * first admission rejects 6 docs through blockers at hist ids
    * {178, 245, 377, 393, 446, 450}; the cut removes four of those, so
    * the second admission re-admits exactly their four victims and
    * keeps rejecting the two whose blockers survive — the cut is
    * load-bearing in both directions, and candidate counts shift too.
    */
  private[graft] def neardupRetentionWorkflowSpec(hist: String,
      batch: String): WorkflowSpec = WorkflowSpec(
    id = 24,
    masterPackageId = 174,
    fallbackPackageId = Some(179L),
    packages = Map(
      171L -> PackageSpec(171, realizations = Seq(RealizationSpec(
        1710, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(17100, CommandType.Copy, TaskType.Pipeline,
          s"neardup_signatures in=$hist",
          zieltabelle = Some("nd6_hist")))))),
      172L -> PackageSpec(172, dependencies = Seq(171L), realizations = Seq(RealizationSpec(
        1720, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(17200, CommandType.Copy, TaskType.Pipeline,
          s"neardup_admit in=$batch hist=nd6_hist",
          zieltabelle = Some("nd6_adm1"), quelltabelle = Some("nd6_hist")))))),
      173L -> PackageSpec(173, dependencies = Seq(172L), realizations = Seq(RealizationSpec(
        1730, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(17300, CommandType.Copy, TaskType.Maintenance,
          "delete_where range=\"doc_id=300..*\"",
          zieltabelle = Some("nd6_hist")))))),
      174L -> PackageSpec(174, dependencies = Seq(173L), realizations = Seq(RealizationSpec(
        1740, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(17400, CommandType.Copy, TaskType.Pipeline,
          s"neardup_admit in=$batch hist=nd6_hist",
          zieltabelle = Some("nd6_adm2"), quelltabelle = Some("nd6_hist")))))),
      179L -> PackageSpec(179, realizations = Seq(RealizationSpec(
        1790, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(17900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW nd6_compensation AS " +
            "SELECT 'retention aborted' AS status")))))))

  val q128 = QueryDef(
    "q128_neardup_retention",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val tag = s"nd6_${System.nanoTime()}"
      s.sql(s"CREATE OR REPLACE TEMP VIEW ${tag}_hist AS " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0")
      s.sql(s"CREATE OR REPLACE TEMP VIEW ${tag}_batch AS " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0")
      val (result, _, wh) = runWorkflow(s, graft.util.TempDirs.scratch("graft-nd6-wf"),
        neardupRetentionWorkflowSpec(s"${tag}_hist", s"${tag}_batch"), zeitplanAusfuehrungenId = 24)
      result.error.foreach(throw _)
      wh.read(s, "nd6_adm1")
        .select(lit(1L).as("round"), col("doc_id"), col("n_hist_candidates"))
        .unionByName(wh.read(s, "nd6_adm2")
          .select(lit(2L).as("round"), col("doc_id"), col("n_hist_candidates")))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sig AS (
        SELECT doc_id, shingles,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM (
          SELECT doc_id, CASE WHEN len(t) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [] END AS shingles
          FROM toks) WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, shingles, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), cand1 AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 0 AND h.doc_id % 4 <> 0
        GROUP BY 1, 2
      ), rej1 AS (
        SELECT DISTINCT nd FROM cand1
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc1 AS (
        SELECT nd, count(*) AS n FROM cand1 GROUP BY 1
      ), cand2 AS (
        SELECT nd, hd, sh_n, sh_h FROM cand1 WHERE hd < 300
      ), rej2 AS (
        SELECT DISTINCT nd FROM cand2
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc2 AS (
        SELECT nd, count(*) AS n FROM cand2 GROUP BY 1
      )
      SELECT CAST(1 AS BIGINT) AS round, d.doc_id,
             CAST(COALESCE(nc1.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN nc1 ON nc1.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej1)
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS round, d.doc_id,
             CAST(COALESCE(nc2.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN nc2 ON nc2.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej2)"""))

  /** Bloom-history RETENTION fixture (r15, VERDICT r14 next #5): a
    * bloom bitmap cannot unlearn, so keyset retention is delete_where
    * on the SEEN table plus a whole-bitmap REBUILD (`bloom_build`) —
    * the rebuilt bitmap lands in a fresh table (step writes append; a
    * bitmap must never be appended to by a rebuild). Keys are
    * `l_partkey` across shipping windows: the late-1996+ batch re-ships
    * 1672 parts already seen before 1996 and introduces 20 new ones;
    * cutting partkeys ≤ 400 from the seen table re-admits exactly the
    * 332 cut keys the batch carries.
    */
  private[graft] def bloomRetentionWorkflowSpec(): WorkflowSpec = {
    val seenSql = "SELECT DISTINCT l_partkey FROM lineitem " +
      "WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'"
    val batchSql = "SELECT DISTINCT l_partkey FROM lineitem " +
      "WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'"
    WorkflowSpec(
      id = 25,
      masterPackageId = 186,
      fallbackPackageId = Some(189L),
      packages = Map(
        181L -> PackageSpec(181, realizations = Seq(RealizationSpec(
          1810, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(18100, CommandType.Copy, TaskType.Sql, seenSql,
              zieltabelle = Some("nd7_seen"), schrittReihenfolge = 0),
            StepSpec(18110, CommandType.Copy, TaskType.Sql, batchSql,
              zieltabelle = Some("nd7_batch"), schrittReihenfolge = 1),
            StepSpec(18120, CommandType.Copy, TaskType.Pipeline,
              "bloom_build in=nd7_seen key=l_partkey mbits=65536 k=5",
              zieltabelle = Some("nd7_bloom"),
              quelltabelle = Some("nd7_seen"), schrittReihenfolge = 2))))),
        182L -> PackageSpec(182, dependencies = Seq(181L), realizations = Seq(RealizationSpec(
          1820, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(18200, CommandType.Copy, TaskType.Pipeline,
            "bloom_ingest in=nd7_batch seen=nd7_seen key=l_partkey " +
              "bloom=nd7_bloom mbits=65536 k=5",
            zieltabelle = Some("nd7_adm1"),
            quelltabelle = Some("nd7_seen,nd7_bloom,nd7_batch")))))),
        183L -> PackageSpec(183, dependencies = Seq(182L), realizations = Seq(RealizationSpec(
          1830, anzahlParalleleSchritte = 1,
          steps = Seq(
            StepSpec(18300, CommandType.Copy, TaskType.Maintenance,
              "delete_where range=\"l_partkey=*..400\"",
              zieltabelle = Some("nd7_seen"), schrittReihenfolge = 0),
            StepSpec(18310, CommandType.Copy, TaskType.Pipeline,
              "bloom_build in=nd7_seen key=l_partkey mbits=65536 k=5",
              zieltabelle = Some("nd7_bloom2"),
              quelltabelle = Some("nd7_seen"), schrittReihenfolge = 1))))),
        186L -> PackageSpec(186, dependencies = Seq(183L), realizations = Seq(RealizationSpec(
          1860, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(18600, CommandType.Copy, TaskType.Pipeline,
            "bloom_ingest in=nd7_batch seen=nd7_seen key=l_partkey " +
              "bloom=nd7_bloom2 mbits=65536 k=5",
            zieltabelle = Some("nd7_adm2"),
            quelltabelle = Some("nd7_seen,nd7_bloom2,nd7_batch")))))),
        189L -> PackageSpec(189, realizations = Seq(RealizationSpec(
          1890, anzahlParalleleSchritte = 1,
          steps = Seq(StepSpec(18900, CommandType.SqlTarget, TaskType.Sql,
            "CREATE OR REPLACE TEMP VIEW nd7_compensation AS " +
              "SELECT 'bloom retention aborted' AS status")))))))
  }

  val q129 = QueryDef(
    "q129_bloom_retention",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val (result, _, wh) = runWorkflow(s, graft.util.TempDirs.scratch("graft-nd7-wf"),
        bloomRetentionWorkflowSpec(), zeitplanAusfuehrungenId = 25)
      result.error.foreach(throw _)
      wh.read(s, "nd7_adm1")
        .select(lit(1L).as("round"), col("l_partkey"))
        .unionByName(wh.read(s, "nd7_adm2")
          .select(lit(2L).as("round"), col("l_partkey")))
    },
    Some("""
      WITH seen AS (
        SELECT DISTINCT l_partkey FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      ), batch AS (
        SELECT DISTINCT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
      )
      SELECT CAST(1 AS BIGINT) AS round, l_partkey FROM batch
      WHERE l_partkey NOT IN (SELECT l_partkey FROM seen)
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS round, l_partkey FROM batch
      WHERE l_partkey NOT IN (SELECT l_partkey FROM seen WHERE l_partkey > 400)"""))

  /** The PRUNED streaming admission fixture (r15 — the round's two
    * headline features composed): q127's stream with `hist_bands=`, so
    * every micro-batch admits through the manifest-pruned path while
    * the stream itself maintains the band table beside the signatures
    * (bands ⊇ hist at every crash point — StreamsSpec pins the covering
    * invariant). Unmanifested bootstrap tables make the pruned planner
    * fall back to full filtered scans, so rows are identical to q127 by
    * construction — which is exactly what the shared oracle pins; the
    * manifested-pruning evidence is q126's and FANIN.md's "q123/q124
    * admission scale probe".
    */
  private[graft] def neardupPrunedStreamWorkflowSpec(seedView: String,
      inDir: String, ckptDir: String): WorkflowSpec = WorkflowSpec(
    id = 26,
    masterPackageId = 191,
    fallbackPackageId = Some(199L),
    packages = Map(
      191L -> PackageSpec(191, realizations = Seq(RealizationSpec(
        1910, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(19100, CommandType.Copy, TaskType.Stream,
          s"neardup_admit_stream dir=$inDir ckpt=$ckptDir " +
            "schema=\"doc_id BIGINT, text STRING\" " +
            s"seed=$seedView hist=nd8_hist hist_bands=nd8_bands " +
            "out=nd8_admitted wm=nd8_wm maxfiles=1",
          zieltabelle = Some("nd8_admitted"),
          quelltabelle = Some("nd8_hist,nd8_bands,nd8_wm")))))),
      199L -> PackageSpec(199, realizations = Seq(RealizationSpec(
        1990, anzahlParalleleSchritte = 1,
        steps = Seq(StepSpec(19900, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW nd8_compensation AS " +
            "SELECT 'pruned stream admission aborted' AS status")))))))

  val q130 = QueryDef(
    "q130_neardup_pruned_streaming",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val base = graft.util.TempDirs.scratch("graft-nd8-wf")
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val seedView = s"nd8_seed_${System.nanoTime()}"
      docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
        .createOrReplaceTempView(seedView)
      def writeArrival(n: Int, residue: Long, mtime: Long): Unit =
        graft.util.TempDirs.dropParquet(docs.filter(col("doc_id") % 4 === residue),
          s"$base/in/batch$n.parquet", Some(mtime))
      writeArrival(1, 1L, 1700000000000L)
      writeArrival(2, 0L, 1700000100000L)
      val (result, _, wh) = runWorkflow(s, s"$base/wh",
        neardupPrunedStreamWorkflowSpec(seedView, s"$base/in", s"$base/ckpt"),
        zeitplanAusfuehrungenId = 26)
      result.error.foreach(throw _)
      wh.read(s, "nd8_admitted")
        .select(col("batch"), col("doc_id"), col("n_hist_candidates"))
    },
    // the pruned path must not move a row vs the full-scan stream —
    // q127's two-round oracle verbatim
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
      ), sig AS (
        SELECT doc_id, shingles,
          list_transform(generate_series(0, 11), k ->
            list_min(list_transform(
              list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)),
              h -> ((2*k+1)*h + k*12582917) % 4294967311))) AS sig
        FROM (
          SELECT doc_id, CASE WHEN len(t) >= 3 THEN
              list_distinct(list_transform(generate_series(1, len(t)-2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [] END AS shingles
          FROM toks) WHERE len(shingles) > 0
      ), bands AS (
        SELECT doc_id, shingles, b,
          md5(array_to_string(sig[(3*b+1):(3*b+3)], ',')) AS band_key
        FROM sig, (SELECT unnest(generate_series(0,3)) AS b)
      ), cand1 AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 1 AND h.doc_id % 4 IN (2, 3)
        GROUP BY 1, 2
      ), rej1 AS (
        SELECT DISTINCT nd FROM cand1
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc1 AS (
        SELECT nd, count(*) AS n FROM cand1 GROUP BY 1
      ), cand2 AS (
        SELECT n.doc_id AS nd, h.doc_id AS hd,
          any_value(n.shingles) AS sh_n, any_value(h.shingles) AS sh_h
        FROM bands n JOIN bands h ON n.b = h.b AND n.band_key = h.band_key
        WHERE n.doc_id % 4 = 0 AND (h.doc_id % 4 IN (2, 3) OR
          (h.doc_id % 4 = 1 AND h.doc_id NOT IN (SELECT nd FROM rej1)))
        GROUP BY 1, 2
      ), rej2 AS (
        SELECT DISTINCT nd FROM cand2
        WHERE CAST(len(list_intersect(sh_n, sh_h)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(sh_n, sh_h))) AS DOUBLE) >= 0.6
      ), nc2 AS (
        SELECT nd, count(*) AS n FROM cand2 GROUP BY 1
      )
      SELECT CAST(1 AS BIGINT) AS batch, d.doc_id,
             CAST(COALESCE(nc1.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) d
      LEFT JOIN nc1 ON nc1.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej1)
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS batch, d.doc_id,
             CAST(COALESCE(nc2.n, 0) AS BIGINT) AS n_hist_candidates
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN nc2 ON nc2.nd = d.doc_id
      WHERE d.doc_id NOT IN (SELECT nd FROM rej2)"""))

  val all: Seq[QueryDef] = Seq(q20, q21, q36, q42, q53, q103, q106, q107, q109,
    q110, q113, q116, q117, q118, q119, q120, q121, q124, q125, q126, q127,
    q128, q129, q130)
}

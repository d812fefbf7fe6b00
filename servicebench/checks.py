"""Independent output checks: DuckDB recomputations and ledger properties.

Nothing here compares against a stored copy of earlier output. Every
expected value is recomputed from the generated inputs (DuckDB over the
same parquet/CSV/JSONL files the engine read) or derived from the
schedule and the config snapshot.

``run_all`` returns a :class:`Report` with one ``(name, ok, detail)`` per
check, the attempted/failed operation counts, and the expected row counts
the metrics use. ``Checks`` exposes each check on its own, so the
self-check (``selfcheck.py``) can corrupt one input and show the matching
check fail.
"""

import datetime as dt
import glob
import json
import os

import duckdb
import pyarrow.parquet as pq

import workloads

# The ledger stamps a step's execution end after the step has released
# its table and Parallelsperre locks, so a waiting claimant may stamp its
# execution start a moment earlier. Overlaps up to this many seconds are
# that stamping gap, not a broken lock; see README.md.
LOCK_SLACK_S = 0.05

LEVELS = ("workflow", "paket", "paketumsetzung", "paketschritt")


class Report:
    def __init__(self):
        self.results = []
        self.attempted = 0
        self.failed = 0
        self.rows_written = {}   # workflow run id -> rows its steps wrote (DuckDB-counted)
        self.ledger = []         # latest ledger rows, times in epoch seconds
        self.steps = {}          # step id -> config row
        self.timed_runs = []     # workflow run ids in the timed window
        self.tick_of_run = {}    # workflow run id -> its tick record

    def add(self, name, ok, detail=""):
        self.results.append((name, bool(ok), detail))


def _ts(row, col):
    v = row[col]
    return None if v is None else v / 1e6


def load_config(run_dir):
    cfg = {}
    for name in workloads.Builder().cfg:
        p = f"{run_dir}/config/{name}"
        cfg[name] = pq.read_table(p).to_pylist() if os.path.isdir(p) else []
    return cfg


def load_ledger(con, run_dir):
    con.execute(f"""CREATE OR REPLACE VIEW ledger AS
        SELECT * FROM read_parquet('{run_dir}/ledger/run_events/*.parquet')
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY seq DESC) = 1""")
    cols = ["level", "id", "refId", "workflowRunId", "paketRunId", "umsetzungRunId",
            "zeitplanAusfuehrungenId", "istGestartet", "istAbgeschlossen", "erfolgreich",
            "parallelsperre", "erwarteteDaten"]
    tcols = ["anforderungszeitpunkt", "startzeitpunkt", "ausfuehrungsstartzeitpunkt",
             "ausfuehrungsendzeitpunkt", "endzeitpunkt"]
    q = ", ".join(cols + [f"epoch_us({c}) AS {c}" for c in tcols])
    rows = con.execute(f"SELECT {q} FROM ledger ORDER BY id").fetchall()
    out = []
    for r in rows:
        d = dict(zip(cols + tcols, r))
        for c in tcols:
            d[c] = _ts(d, c)
        out.append(d)
    return out


def max_concurrency(intervals):
    """Largest number of [start, end] intervals open at once; an interval
    ending at the instant another starts does not overlap it."""
    ev = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
                key=lambda x: (x[0], x[1]))
    cur = best = 0
    for _, d in ev:
        cur += d
        best = max(best, cur)
    return best


def overlap(a, b):
    return min(a[1], b[1]) - max(a[0], b[0])


class Checks:
    """All checks for one finished run directory."""

    def __init__(self, run_dir, workload, result):
        self.run = run_dir
        self.workload = workload
        self.result = result
        self.con = duckdb.connect()
        # the harness JVM has exited: the checks have the box to themselves
        self.con.execute(f"SET threads TO {os.cpu_count() or 1}")
        self.cfg = load_config(run_dir)
        self.ledger = load_ledger(self.con, run_dir)
        d = f"{run_dir}/data"
        for t in ("region", "nation", "supplier", "orders", "lineitem", "documents"):
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        self.steps = {s["etlPaketschritteId"]: s for s in self.cfg["schritte"]}
        self._expected = {}  # (step id, batch) -> recomputed row count
        self._q103 = False
        self.by_level = {lv: [r for r in self.ledger if r["level"] == lv] for lv in LEVELS}
        wf = self.by_level["workflow"]
        self.last_run = max(r["id"] for r in wf) if wf else None
        # workflow run -> tick (through its plan's planned start)
        plans = {p["id"]: p for p in result["plans_before_shutdown"]}
        tick_of = {dt.datetime.fromisoformat(t["schedule_time"]): t for t in result["ticks"]}
        self.tick_of_run = {}
        for r in wf:
            p = plans.get(r["zeitplanAusfuehrungenId"])
            if p is not None:
                self.tick_of_run[r["id"]] = tick_of.get(dt.datetime.fromisoformat(p["planned"]))
        self.last_batch = result["ticks"][-1]["batch"] if result["ticks"] else 0

    # -- helpers ---------------------------------------------------------

    def wh(self, table):
        return f"read_parquet('{self.run}/warehouse/{table}/*.parquet')"

    def q103(self):
        """The q103 oracle's rows, computed once (a few seconds in DuckDB)."""
        if not self._q103:
            self.con.execute(f"CREATE TEMP TABLE q103 AS {self.result['oracle_q103']}")
            self._q103 = True
        return "q103"

    def one(self, sql):
        return self.con.execute(sql).fetchone()[0]

    def same_rows(self, got, want):
        """Multiset equality of two queries; returns (ok, detail)."""
        missing = self.one(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))")
        extra = self.one(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))")
        n = self.one(f"SELECT count(*) FROM ({got})")
        return missing == 0 and extra == 0, f"{n} rows, {missing} missing, {extra} extra"

    def claims(self, step_id):
        s = self.steps[step_id]
        out = set()
        for c in (s["zieltabelle"], s["quelltabelle"]):
            if c:
                out |= {x.strip() for x in c.split(",") if x.strip()}
        return out

    # -- ledger properties -----------------------------------------------

    def due_slots(self):
        """Each due slot, computed from the schedule, ran exactly once."""
        period = {"Minute": 60, "DreiMinuten": 180}
        sched = {z["etlZeitplaeneId"]: z for z in self.cfg["zeitplaene"]}
        wfs = {w["etlWorkflowId"]: sched[w["etlZeitplaeneId"]] for w in self.cfg["workflows"]}
        plans = self.result["plans_before_shutdown"]
        runs_by_plan = {}
        for r in self.by_level["workflow"]:
            runs_by_plan.setdefault(r["zeitplanAusfuehrungenId"], []).append(r)
        # a fixed interval steps from Anfangsdatum's date at Startzeit
        base = {w: dt.datetime.combine(z["anfangsdatum"].date(), dt.time.fromisoformat(z["startzeit"]))
                for w, z in wfs.items()}
        problems, expected = [], 0
        for t in self.result["ticks"]:
            now = dt.datetime.fromisoformat(t["schedule_time"])
            due = sorted(w for w, z in wfs.items() if now >= base[w] and
                         int((now - base[w]).total_seconds()) % period[z["zeitplanIntervall"]] == 0)
            expected += len(due)
            if sorted(t["started"]) != due:
                problems.append(f"tick {t['tick']}: started {sorted(t['started'])}, due {due}")
            for w in due:
                ps = [p for p in plans if p["workflow"] == w and
                      dt.datetime.fromisoformat(p["planned"]) == now]
                if len(ps) != 1 or not ps[0]["executed"]:
                    problems.append(f"tick {t['tick']} workflow {w}: {len(ps)} plans")
                elif len(runs_by_plan.get(ps[0]["id"], [])) != 1:
                    problems.append(f"tick {t['tick']} workflow {w}: "
                                    f"{len(runs_by_plan.get(ps[0]['id'], []))} runs")
        n_runs = len(self.by_level["workflow"])
        if n_runs != expected:
            problems.append(f"{n_runs} workflow runs for {expected} due slots")
        return not problems, "; ".join(problems[:3]) or f"{expected} due slots, each ran once"

    def closed_ordered(self):
        """Every row is closed and successful, its timestamps in order."""
        bad = []
        for r in self.ledger:
            ts = [r[c] for c in ("anforderungszeitpunkt", "startzeitpunkt", "ausfuehrungsstartzeitpunkt",
                                 "ausfuehrungsendzeitpunkt", "endzeitpunkt")]
            if not (r["istGestartet"] and r["istAbgeschlossen"] and r["erfolgreich"]):
                bad.append(f"{r['level']} {r['id']} not closed/successful")
            elif None in ts or any(a > b for a, b in zip(ts, ts[1:])):
                bad.append(f"{r['level']} {r['id']} timestamps out of order")
        return not bad, "; ".join(bad[:3]) or f"{len(self.ledger)} rows closed, successful, ordered"

    def package_order(self):
        """No package started before its predecessors ended."""
        deps = {}
        for a in self.cfg["abhaengigkeiten"]:
            deps.setdefault((a["etlWorkflowId"], a["etlPaketeId"]), []).append(a["vorlaufEtlPaketeId"])
        wf_of = {r["id"]: r["refId"] for r in self.by_level["workflow"]}
        pk = {(r["workflowRunId"], r["refId"]): r for r in self.by_level["paket"]}
        bad, n = [], 0
        for (run, pid), r in pk.items():
            for d in deps.get((wf_of.get(run), pid), []):
                n += 1
                p = pk.get((run, d))
                if p is None or p["endzeitpunkt"] > r["startzeitpunkt"]:
                    bad.append(f"package {pid} of run {run} started before {d} ended")
        return not bad, "; ".join(bad[:3]) or f"{n} package edges respected"

    def caps(self):
        """Running steps never exceeded a realization's cap or Anzahl_ETL_Threads."""
        cap = {u["etlPaketUmsetzungenId"]: u["anzahlParalleleSchritte"] for u in self.cfg["umsetzungen"]}
        threads = 1
        for p in self.cfg["konfigurationsparameter"]:
            if p["parametername"] == "Anzahl_ETL_Threads":
                threads = int(p["parameterwert"])
        steps = self.by_level["paketschritt"]
        bad = []
        for u in self.by_level["paketumsetzung"]:
            iv = [(s["startzeitpunkt"], s["endzeitpunkt"]) for s in steps if s["umsetzungRunId"] == u["id"]]
            m = max_concurrency(iv)
            if m > cap[u["refId"]]:
                bad.append(f"realization {u['refId']} ran {m} steps at once (cap {cap[u['refId']]})")
        g = max_concurrency([(s["startzeitpunkt"], s["endzeitpunkt"]) for s in steps])
        if g > threads:
            bad.append(f"{g} steps at once (Anzahl_ETL_Threads {threads})")
        return not bad, "; ".join(bad[:3]) or f"peak {g} of {threads} threads, realization caps held"

    def exclusive(self):
        """Steps claiming the same table, or marked Parallelsperre, never
        overlapped (beyond the stamping gap LOCK_SLACK_S)."""
        steps = [s for s in self.by_level["paketschritt"] if s["refId"] in self.steps]
        iv = {s["id"]: (s["ausfuehrungsstartzeitpunkt"], s["ausfuehrungsendzeitpunkt"]) for s in steps}
        worst, bad, pairs = 0.0, [], 0
        for i, a in enumerate(steps):
            ca = self.claims(a["refId"])
            excl_a = self.steps[a["refId"]]["parallelsperre"]
            for b in steps[i + 1:]:
                if not (excl_a or self.steps[b["refId"]]["parallelsperre"] or ca & self.claims(b["refId"])):
                    continue
                pairs += 1
                o = overlap(iv[a["id"]], iv[b["id"]])
                worst = max(worst, o)
                if o > LOCK_SLACK_S:
                    bad.append(f"steps {a['refId']}/{b['refId']} overlapped {o:.3f}s")
        reals = self.by_level["paketumsetzung"]
        excl_real = {u["etlPaketUmsetzungenId"] for u in self.cfg["umsetzungen"] if u["parallelsperre"]}
        for a in reals:
            if a["refId"] not in excl_real:
                continue
            for b in reals:
                if b["id"] == a["id"]:
                    continue
                pairs += 1
                o = overlap((a["ausfuehrungsstartzeitpunkt"], a["ausfuehrungsendzeitpunkt"]),
                            (b["ausfuehrungsstartzeitpunkt"], b["ausfuehrungsendzeitpunkt"]))
                worst = max(worst, o)
                if o > LOCK_SLACK_S:
                    bad.append(f"realizations {a['refId']}/{b['refId']} overlapped {o:.3f}s")
        return not bad, "; ".join(bad[:3]) or f"{pairs} exclusive pairs, worst overlap {max(worst, 0):.4f}s"

    def expected_rows(self):
        """step run id -> rows the step should have written, recomputed
        from the inputs (None where a step writes no counted rows)."""
        exp = {}
        for s in self.by_level["paketschritt"]:
            tick = self.tick_of_run.get(s["workflowRunId"])
            batch = tick["batch"] if tick else None
            exp[s["id"]] = self.expected_for(s["refId"], batch)
        return exp

    def expected_for(self, step_id, batch):
        # only the per-tick deliveries depend on the tick's batch
        per_batch = workloads.kind(self.steps[step_id]) in ("ingest", "stream")
        key = (step_id, batch if per_batch else None)
        if key not in self._expected:
            self._expected[key] = self._count(step_id, batch)
        return self._expected[key]

    def _count(self, step_id, batch):
        s = self.steps[step_id]
        k = workloads.kind(s)
        if k in ("copy", "timeslice", "export"):
            if step_id == 3400:  # the bloom history (workloads.curation_packages)
                return self.one("SELECT count(*) FROM documents WHERE doc_id % 4 IN (1, 2)")
            return self.one(f"SELECT count(*) FROM ({self.source_sql(step_id)})")
        if k == "ingest":
            d = f"{self.run}/drops/b{batch}"
            if s["aufgabentyp"] == "JSONL":
                with open(f"{d}/ereignisse.jsonl") as f:
                    return sum(1 for _ in f)
            return self.one(f"SELECT count(*) FROM read_csv('{d}/bestellungen.csv', all_varchar=true)")
        if k == "pipeline":
            if step_id == 3301:
                return self.one(f"SELECT count(*) FROM {self.q103()}")
            return self.one(f"SELECT count(*) FROM {self.wh(s['zieltabelle'])}")
        if k == "stream":
            return self.one(f"SELECT count(*) FROM ({self.admitted_sql(batch)})")
        return None

    def source_sql(self, step_id):
        """DuckDB form of a copy/export step's source query."""
        b = self.steps[step_id]["befehl"]
        if "li_agg_v" in b:
            return workloads.AGG_SQL
        for t in ("region", "nation", "supplier", "orders"):
            if f"FROM {t}" in b:
                return f"SELECT * FROM {t}"
        if "BETWEEN" in b:
            return (f"SELECT * FROM lineitem WHERE l_shipdate BETWEEN "
                    f"TIMESTAMP '{workloads.ETL_VON}' AND TIMESTAMP '{workloads.ETL_BIS}'")
        return "SELECT * FROM lineitem"

    def admitted_sql(self, batch):
        return (f"SELECT doc_id, fingerprint FROM '{self.run}/arrivals/b{batch}/part-0.parquet' "
                "WHERE fingerprint NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 4 IN (1, 2))")

    def erwartete_daten(self):
        """ErwarteteDaten equals the DuckDB-counted rows, for every step
        run that records a count."""
        exp = self.expected_rows()
        bad, n = [], 0
        for s in self.by_level["paketschritt"]:
            e = exp[s["id"]]
            if e is None:
                continue
            n += 1
            if s["erwarteteDaten"] != e:
                bad.append(f"step {s['refId']} run {s['id']}: ErwarteteDaten {s['erwarteteDaten']}, counted {e}")
        return not bad, "; ".join(bad[:3]) or f"{n} step counts match"

    # -- outputs: etl_load -----------------------------------------------

    def retention(self):
        """Retention left no rows of earlier runs in the copy targets."""
        tables = [s["zieltabelle"] for s in self.cfg["schritte"]
                  if "lauf_id <" in s["befehl"]]
        left = {t: self.one(f"SELECT count(*) FROM {self.wh(t)} WHERE lauf_id <> {self.last_run}")
                for t in tables}
        return all(v == 0 for v in left.values()), \
            ", ".join(f"{t}: {v} rows past the horizon" for t, v in left.items())

    def copies(self):
        """The bulk copies hold exactly the source rows."""
        res = []
        for t, want in (("li_copy", f"SELECT {workloads.LI_COLS} FROM lineitem"),
                        ("ord_copy", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                                     "o_orderdate FROM orders")):
            cols = want.split("SELECT ")[1].split(" FROM")[0]
            ok, d = self.same_rows(f"SELECT {cols} FROM {self.wh(t)}", want)
            res.append((ok, f"{t}: {d}"))
        return all(o for o, _ in res), "; ".join(d for _, d in res)

    def timeslice(self):
        """The Zeitscheibe copy lost and duplicated no row at slice bounds."""
        cols = "l_orderkey, l_linenumber, l_shipdate, l_extendedprice"
        want = (f"SELECT {cols} FROM lineitem WHERE l_shipdate BETWEEN "
                f"TIMESTAMP '{workloads.ETL_VON}' AND TIMESTAMP '{workloads.ETL_BIS}'")
        ok, d = self.same_rows(f"SELECT {cols} FROM {self.wh('li_slices')}", want)
        bounds = ("(extract(day FROM l_shipdate) = 1 AND l_shipdate = date_trunc('day', l_shipdate)) OR "
                  "strftime(l_shipdate, '%H:%M:%S') = '23:59:59'")
        nb = self.one(f"SELECT count(*) FROM {self.wh('li_slices')} WHERE {bounds}")
        wb = self.one(f"SELECT count(*) FROM ({want}) WHERE {bounds}")
        return ok and nb == wb, f"{d}; {nb} of {wb} slice-bound rows"

    def ingest(self):
        """Ingest holds exactly the last delivered drop rows, Insert/ emptied."""
        d = f"{self.run}/drops/b{self.last_batch}"
        ok1, d1 = self.same_rows(
            f"SELECT bestell_nr, kunden_nr, betrag, datum, dateiname FROM {self.wh('drop_bestellungen')}",
            f"SELECT BestellNr, KundenNr, Betrag, Datum, parse_filename(filename) FROM "
            f"read_csv('{d}/bestellungen.csv', all_varchar=true, filename=true)")
        with open(f"{d}/ereignisse.jsonl") as f:
            want = sorted((str(e["ereignis_id"]), e["typ"], float(e["wert"]))
                          for e in map(json.loads, f))
        got = sorted((a, b, float(c)) for a, b, c in self.con.execute(
            f"SELECT ereignis_id, typ, wert FROM {self.wh('drop_ereignisse')}").fetchall())
        ok2 = got == want
        left = [p for sub in ("csv", "jsonl") for q in ("Insert", "TMP")
                for p in glob.glob(f"{self.run}/drop/{sub}/{q}/*")]
        return ok1 and ok2 and not left, \
            f"csv {d1}; jsonl {len(got)} rows {'match' if ok2 else 'differ'}; {len(left)} files left in Insert/TMP"

    def export(self):
        """The exported CSV equals the DuckDB aggregate."""
        files = glob.glob(f"{self.run}/export/li_agg/*.csv")
        if len(files) != 1:
            return False, f"{len(files)} export files"
        got = (f"SELECT l_returnflag, l_linestatus, CAST(n_lines AS BIGINT), CAST(sum_price AS DECIMAL(18,2)), "
               f"CAST(sum_qty AS DECIMAL(18,2)) FROM read_csv('{files[0]}', delim=';', header=true, all_varchar=true)")
        want = (f"SELECT l_returnflag, l_linestatus, CAST(n_lines AS BIGINT), sum_price, sum_qty "
                f"FROM ({workloads.AGG_SQL})")
        ok, d = self.same_rows(got, want)
        ok2, d2 = self.same_rows(
            f"SELECT l_returnflag, l_linestatus, n_lines, sum_price, sum_qty FROM {self.wh('li_agg')}", want)
        return ok and ok2, f"export {d}; li_agg {d2}"

    # -- outputs: service_dag --------------------------------------------

    def dag_tables(self):
        """Shared targets hold the last run's two copies of each source."""
        res = []
        for src in ("region", "nation", "supplier"):
            cols = ", ".join(r[0] for r in self.con.execute(f"DESCRIBE {src}").fetchall())
            ok, d = self.same_rows(f"SELECT {cols} FROM {self.wh('dag_' + src)}",
                                   f"SELECT {cols} FROM {src} UNION ALL SELECT {cols} FROM {src}")
            res.append((ok, f"dag_{src}: {d}"))
        return all(o for o, _ in res), "; ".join(d for _, d in res)

    def dag_exports(self):
        """Every export of a workflow that ran equals its source table."""
        ran = {r["refId"] for r in self.by_level["workflow"]}
        wf_of = {m["etlPaketschritteId"]: m["etlWorkflowId"] for m in self.cfg["umsetzung_schritte"]}
        res = []
        for s in self.cfg["schritte"]:
            if workloads.kind(s) != "export" or wf_of[s["etlPaketschritteId"]] not in ran:
                continue
            # the config names the export directory absolutely; read it
            # under this run directory (the self-check checks a copy)
            files = glob.glob(f"{self.run}/export/{os.path.basename(s['zieltabelle'])}/*.csv")
            src = s["befehl"].split("FROM ")[1].strip()
            desc = self.con.execute(f"DESCRIBE {src}").fetchall()
            cols = ", ".join(f"CAST({c} AS {t})" for c, t, *_ in desc)
            ok = len(files) == 1 and self.same_rows(
                f"SELECT {cols} FROM read_csv('{files[0] if files else ''}', delim=';', header=true, all_varchar=true)",
                f"SELECT * FROM {src}")[0]
            res.append(ok)
        return all(res), f"{sum(res)} of {len(res)} exports equal their source"

    # -- outputs: curation (also in etl_load) ---------------------------

    def manifest(self):
        """The manifest equals the q103 oracle over the generated corpus."""
        cols = "doc_id, lang, source, toks_clean, n_repeats, cum_tokens"
        return self.same_rows(f"SELECT {cols} FROM {self.wh('cur_manifest')}",
                              f"SELECT {cols} FROM {self.q103()}")

    def admitted(self):
        """Admitted stream rows equal the anti-join of the arrival keys
        against the history."""
        return self.same_rows(f"SELECT doc_id, fingerprint FROM {self.wh('bl_admitted')}",
                              self.admitted_sql(self.last_batch))

    # -- assembly ----------------------------------------------------------

    def all(self):
        common = [self.due_slots, self.closed_ordered, self.package_order, self.caps,
                  self.exclusive, self.erwartete_daten]
        per = {"etl_load": [self.copies, self.timeslice, self.ingest, self.export, self.retention,
                            self.manifest, self.admitted],
               "service_dag": [self.dag_tables, self.dag_exports, self.retention],
               "curation": [self.manifest, self.admitted]}[self.workload]
        return common + per


def run_all(run_dir, workload, result):
    c = Checks(run_dir, workload, result)
    rep = Report()
    for check in c.all():
        try:
            ok, detail = check()
        except Exception as e:  # a check that cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        rep.add(check.__name__, ok, detail)
    rep.ledger = c.ledger
    rep.steps = c.steps
    timed = {r: t for r, t in c.tick_of_run.items() if t is not None and t["timed"]}
    rep.timed_runs = sorted(timed)
    rep.tick_of_run = c.tick_of_run
    exp = c.expected_rows()
    for s in c.by_level["paketschritt"]:
        if s["workflowRunId"] in timed and exp.get(s["id"]):
            rep.rows_written[s["workflowRunId"]] = rep.rows_written.get(s["workflowRunId"], 0) + exp[s["id"]]
    timed_rows = [r for r in c.ledger if (r["id"] if r["level"] == "workflow" else r["workflowRunId"]) in timed
                  and r["level"] in ("workflow", "paketschritt")]
    rep.attempted = len(timed_rows)
    rep.failed = sum(1 for r in timed_rows if not r["erfolgreich"])
    return rep

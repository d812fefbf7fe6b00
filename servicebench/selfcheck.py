"""Self-check of the benchmark's checks, at a small scale.

    python3 servicebench/selfcheck.py [workload ...]

For each workload: generates inputs at the self-check scale (a
sf0.001-sized catalog), runs one tick through the engine, and confirms
every check passes. Then, for every check, it corrupts one output (a
dropped row, a duplicated slice-bound row, overlapping claims, a
miscounted ErwarteteDaten, ...) in a copy and confirms that this check
fails. Prints one line per (check, corruption) and exits non-zero if a
check passes a corrupted output or fails a clean one.
"""

import copy
import glob
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout but run output

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def parquet_files(run_dir, table):
    return sorted(glob.glob(f"{run_dir}/warehouse/{table}/*.parquet"))


def drop_row(table):
    def f(c):
        files = [p for p in parquet_files(c.run, table) if pq.read_metadata(p).num_rows > 0]
        t = pq.read_table(files[0])
        pq.write_table(t.slice(1), files[0])
    f.__doc__ = f"drop one row of {table}"
    return f


def duplicate_rows(table, where=None):
    def f(c):
        t = pq.read_table(parquet_files(c.run, table)[0])
        rows = t.slice(0, 1)
        if where is not None:
            mask = where(t)
            rows = t.filter(mask).slice(0, 1)
        pq.write_table(rows, f"{c.run}/warehouse/{table}/part-duplicate.parquet")
    f.__doc__ = f"duplicate one {'slice-bound ' if where else ''}row of {table}"
    return f


def slice_bound(t):
    import pyarrow.compute as pc
    ts = t.column("l_shipdate")
    return pc.equal(pc.day(ts), 1)


def old_run_row(table):
    def f(c):
        t = pq.read_table(parquet_files(c.run, table)[0]).slice(0, 1)
        i = t.schema.get_field_index("lauf_id")
        t = t.set_column(i, "lauf_id", pa.array([0], t.schema.field(i).type))
        pq.write_table(t, f"{c.run}/warehouse/{table}/part-stale.parquet")
    f.__doc__ = f"leave a row of an earlier run in {table}"
    return f


def edit_export(pattern):
    def f(c):
        p = sorted(glob.glob(pattern.format(run=c.run)))[0]
        lines = open(p).read().splitlines()
        lines = lines[:-1]
        open(p, "w").write("\n".join(lines) + "\n")
    f.__doc__ = "drop the last row of an exported CSV"
    return f


def leave_insert_file(c):
    """leave a file behind in Insert/"""
    os.makedirs(f"{c.run}/drop/csv/Insert", exist_ok=True)
    shutil.copy(f"{c.run}/drops/b0/bestellungen.csv", f"{c.run}/drop/csv/Insert/bestellungen.csv")


def miscount(c):
    """report one step's ErwarteteDaten one row high"""
    s = next(s for s in c.by_level["paketschritt"] if s["erwarteteDaten"] is not None)
    s["erwarteteDaten"] += 1


def duplicate_run(c):
    """run one due slot twice"""
    w = copy.deepcopy(c.by_level["workflow"][0])
    w["id"] = 10 ** 9
    c.by_level["workflow"].append(w)


def reorder(c):
    """stamp a step's end before its start"""
    s = c.by_level["paketschritt"][0]
    s["endzeitpunkt"] = s["startzeitpunkt"] - 1.0


def early_package(c):
    """start a package before its predecessor ended"""
    deps = {(a["etlPaketeId"]) for a in c.cfg["abhaengigkeiten"]}
    p = next(p for p in c.by_level["paket"] if p["refId"] in deps)
    p["startzeitpunkt"] -= 3600.0


def over_cap(c):
    """run every step of a realization with more steps than its cap at once"""
    cap = {u["etlPaketUmsetzungenId"]: u["anzahlParalleleSchritte"] for u in c.cfg["umsetzungen"]}
    real = {u["id"]: u["refId"] for u in c.by_level["paketumsetzung"]}
    by_real = {}
    for s in c.by_level["paketschritt"]:
        by_real.setdefault(s["umsetzungRunId"], []).append(s)
    group = max(by_real.values(), key=lambda g: len(g) - cap[real[g[0]["umsetzungRunId"]]])
    for s in group:
        s["startzeitpunkt"], s["endzeitpunkt"] = group[0]["startzeitpunkt"], group[0]["endzeitpunkt"]


def overlap_claims(c):
    """overlap two steps that claim the same table"""
    steps = c.by_level["paketschritt"]
    for i, a in enumerate(steps):
        for b in steps[i + 1:]:
            if c.claims(a["refId"]) & c.claims(b["refId"]) or c.steps[a["refId"]]["parallelsperre"]:
                b["ausfuehrungsstartzeitpunkt"] = a["ausfuehrungsstartzeitpunkt"]
                b["ausfuehrungsendzeitpunkt"] = a["ausfuehrungsendzeitpunkt"] + 1.0
                return
    raise RuntimeError("no pair of claimants to overlap")


LEDGER = [("due_slots", duplicate_run), ("closed_ordered", reorder), ("package_order", early_package),
          ("caps", over_cap), ("exclusive", overlap_claims), ("erwartete_daten", miscount)]
OUTPUTS = {
    "etl_load": [("copies", drop_row("li_copy")),
                 ("timeslice", duplicate_rows("li_slices", slice_bound)),
                 ("ingest", drop_row("drop_bestellungen")), ("ingest", leave_insert_file),
                 ("export", edit_export("{run}/export/li_agg/*.csv")),
                 ("retention", old_run_row("li_agg")),
                 ("manifest", drop_row("cur_manifest")),
                 ("admitted", duplicate_rows("bl_admitted"))],
    "service_dag": [("dag_tables", drop_row("dag_supplier")),
                    ("dag_exports", edit_export("{run}/export/w21_d2/*.csv")),
                    ("retention", old_run_row("dag_region"))],
    "curation": [("manifest", drop_row("cur_manifest")),
                 ("admitted", duplicate_rows("bl_admitted"))],
}


def check_once(run_dir, workload, result, name, corrupt=None):
    work = run_dir
    if corrupt is not None and corrupt not in dict(LEDGER).values():
        work = run_dir + "-corrupt"
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(run_dir, work)
    c = checks.Checks(work, workload, result)
    if corrupt is not None:
        corrupt(c)
        if work != run_dir:  # file corruption: re-read the outputs
            c = checks.Checks(work, workload, result)
    try:
        ok, detail = getattr(c, name)()
    except Exception as e:
        ok, detail = False, f"{type(e).__name__}: {e}"
    if work != run_dir:
        shutil.rmtree(work, ignore_errors=True)
    return ok, detail


def main():
    root = os.getcwd()
    classes = run.build(root)
    wls = sys.argv[1:] or ["etl_load", "service_dag", "curation"]
    bad = 0
    for wl in wls:
        run_dir = os.path.join(root, run.RUN_ROOT, f"selfcheck-{wl}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        gen.generate(run_dir, wl, 7, small=True)
        result, _ = run.run_harness(classes, run_dir, wl, 0, 0, 2)
        rep = checks.run_all(run_dir, wl, result)
        for name, ok, detail in rep.results:
            print(f"{wl:12s} clean     {name:16s} {'pass' if ok else 'FAIL'}  {detail}")
            bad += not ok
        for name, corrupt in LEDGER + OUTPUTS[wl]:
            ok, detail = check_once(run_dir, wl, result, name, corrupt)
            print(f"{wl:12s} corrupted {name:16s} {'PASS' if ok else 'fails'}  ({corrupt.__doc__}) {detail}")
            bad += ok
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"selfcheck": "ok" if bad == 0 else "failed", "problems": bad}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

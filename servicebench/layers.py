"""Metrics: end-to-end (untraced runs) and per-layer (traced runs).

Per-layer numbers come from outside the engine: the run ledger's five
timestamps per row, Spark's public listeners registered by the harness,
JVM MXBeans, and spans the harness records around its public calls.
Times and counts that accrue per workflow run are reported per timed
workflow run, so runs of different length compare.
"""

import datetime as dt
import statistics

import workloads

OPERATORS = ("decontaminate", "repetition", "span_removal", "mixture_budget")
STEP_KINDS = ("copy", "timeslice", "ingest", "export", "maintenance", "sql", "pipeline", "stream")

# name -> unit, in BENCHMARK.json order
END_TO_END = {"setup_s": "s", "first_workflow_s": "s", "workflow_p50_s": "s",
              "rows_per_s": "rows/s", "steps_per_s": "steps/s", "retained_heap_mb": "MB"}


def union(intervals):
    """Merged, sorted list of [start, end] intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(intervals):
    return sum(e - s for s, e in intervals)


def intersect(a, b):
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append([s, e])
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runs:
    """The ledger rows of a run, grouped per workflow run."""

    def __init__(self, report):
        self.rows = report.ledger
        self.steps_cfg = report.steps
        self.timed = report.timed_runs
        self.wf = {r["id"]: r for r in self.rows if r["level"] == "workflow"}
        self.children = {}
        for r in self.rows:
            if r["level"] != "workflow":
                self.children.setdefault(r["workflowRunId"], []).append(r)

    def of(self, run, level):
        return [r for r in self.children.get(run, []) if r["level"] == level]

    def wall(self, run):
        w = self.wf[run]
        return w["endzeitpunkt"] - w["anforderungszeitpunkt"]

    def exec_iv(self, r):
        return [r["ausfuehrungsstartzeitpunkt"], r["ausfuehrungsendzeitpunkt"]]

    def interval(self, run):
        w = self.wf[run]
        return [w["anforderungszeitpunkt"], w["endzeitpunkt"]]


def end_to_end(result, report):
    runs = Runs(report)
    setup = result["setup"]
    first = min(runs.wf) if runs.wf else None
    timed_ticks = [t for t in result["ticks"] if t["timed"]]
    window_s = sum((t["end_us"] - t["start_us"]) / 1e6 for t in timed_ticks)
    steps = sum(len(runs.of(r, "paketschritt")) for r in runs.timed)
    m = {
        "setup_s": (setup["end_us"] - setup["start_us"]) / 1e6,
        "first_workflow_s": runs.wall(first) if first is not None else 0.0,
        "workflow_p50_s": _median([runs.wall(r) for r in runs.timed]),
        "rows_per_s": sum(report.rows_written.values()) / window_s if window_s else 0.0,
        "steps_per_s": steps / window_s if window_s else 0.0,
        "retained_heap_mb": result["retained_heap_bytes"] / 2 ** 20,
    }
    return {k: {"value": round(v, 6), "unit": END_TO_END[k]} for k, v in m.items()}


# name -> unit, in BENCHMARK.json order
PER_LAYER = dict(
    [("service.session_s", "s"), ("service.load_config_s", "s"), ("service.start_s", "s"),
     ("orchestrate.overhead_s", "s"), ("orchestrate.wait_s", "s")] +
    [(f"steps.{k}_s", "s") for k in STEP_KINDS] +
    [(f"operators.{o}_s", "s") for o in OPERATORS] +
    [("streaming.batches", "count"), ("streaming.input_rows", "count"),
     ("streaming.batch_s", "s"), ("streaming.state_commit_s", "s"),
     ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.gap_s", "s"),
     ("spark.task_s", "s"), ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
     ("spark.spill_bytes", "bytes"), ("catalog.bytes_written", "bytes"),
     ("catalog.table_files", "count"), ("ledger.rows", "count"), ("ledger.persist_s", "s"),
     ("report.views_s", "s"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s")])


def _iso_epoch(s):
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def per_layer(result, report):
    runs = Runs(report)
    timed = runs.timed
    n = max(len(timed), 1)
    m = {k: 0.0 for k in PER_LAYER}

    for key, field in (("service.session_s", "session_us"), ("service.load_config_s", "load_config_us"),
                       ("service.start_s", "start_call_us")):
        m[key] = result["setup"][field] / 1e6

    spark = result.get("spark", {"jobs": [], "tasks": [], "progress": []})
    jobs = [[j["start_ms"] / 1e3, j["end_ms"] / 1e3] for j in spark["jobs"] if j["end_ms"] >= 0]
    job_union = union(jobs)
    run_iv = {r: runs.interval(r) for r in timed}

    def within(t, run):
        s, e = run_iv[run]
        return s <= t <= e

    for r in timed:
        steps = runs.of(r, "paketschritt")
        step_exec = union([runs.exec_iv(s) for s in steps])
        m["orchestrate.overhead_s"] += runs.wall(r) - length(step_exec)
        m["orchestrate.wait_s"] += sum(s["ausfuehrungsstartzeitpunkt"] - s["startzeitpunkt"] for s in steps)
        m["orchestrate.wait_s"] += sum(u["ausfuehrungsstartzeitpunkt"] - u["startzeitpunkt"]
                                       for u in runs.of(r, "paketumsetzung"))
        for s in steps:
            cfg = runs.steps_cfg[s["refId"]]
            k = workloads.kind(cfg)
            d = s["ausfuehrungsendzeitpunkt"] - s["ausfuehrungsstartzeitpunkt"]
            if f"steps.{k}_s" in m:
                m[f"steps.{k}_s"] += d
            op = cfg["befehl"].split()[0]
            if k == "pipeline" and op in OPERATORS:
                m[f"operators.{op}_s"] += d
        m["spark.gap_s"] += length(step_exec) - length(intersect(step_exec, job_union))
        m["spark.jobs"] += sum(1 for s, _ in jobs if within(s, r))
        for t in spark["tasks"]:
            if within(t[0] / 1e3, r):
                m["spark.tasks"] += 1
                m["spark.task_s"] += t[1] / 1e3
                m["spark.input_bytes"] += t[2]
                m["spark.shuffle_write_bytes"] += t[3]
                m["spark.spill_bytes"] += t[4]
                m["catalog.bytes_written"] += t[5]
        for p in spark["progress"]:
            if within(_iso_epoch(p["time"]), r):
                m["streaming.batches"] += 1
                m["streaming.input_rows"] += p["input_rows"]
                m["streaming.batch_s"] += p["trigger_ms"] / 1e3
                m["streaming.state_commit_s"] += p["state_commit_ms"] / 1e3
    for k in list(m):
        if not k.startswith("service.") and k not in ("ledger.rows", "ledger.persist_s", "report.views_s",
                                                      "jvm.jit_s", "catalog.table_files"):
            m[k] /= n

    files = [t["warehouse_files"] for t in result["ticks"] if t["timed"] and "warehouse_files" in t]
    m["catalog.table_files"] = _median(files)
    lr = result["ledger_rows"]
    m["ledger.rows"] = lr["runs"] + lr["messages"] + lr["queries"] + lr["errors"]
    spans = result["spans"]
    dur = {s["name"]: (s["end_us"] - s["start_us"]) / 1e6 for s in spans}
    m["ledger.persist_s"] = dur.get("ledger.persist", 0.0)
    m["report.views_s"] = dur.get("report.views", 0.0)
    m["jvm.jit_s"] = result["jit_ms"] / 1e3
    m["jvm.gc_s"] = result["window"]["gc_ms"] / 1e3 / n
    metrics = {k: {"value": round(v, 6), "unit": PER_LAYER[k]} for k, v in m.items()}
    return metrics, trace_spans(result, runs)


def trace_spans(result, runs):
    """Harness spans plus one span per ledger row (workflow, package,
    realization, step, and the step's execution), with each layer's
    self time: its spans' duration minus what their child spans cover."""
    spans = [dict(s, start=s["start_us"] / 1e6, end=s["end_us"] / 1e6) for s in result["spans"]]
    ticks = [s for s in spans if s["name"] == "service.tick"]
    nid = len(spans)
    ledger_ids = {}
    parent_col = {"paket": "workflowRunId", "paketumsetzung": "paketRunId", "paketschritt": "umsetzungRunId"}
    for r in sorted(runs.rows, key=lambda r: ("workflow", "paket", "paketumsetzung", "paketschritt").index(r["level"])):
        if r["level"] == "workflow":
            tick = next((t for t in ticks if t["start"] <= r["anforderungszeitpunkt"] <= t["end"]), None)
            parent = tick["id"] if tick else None
            wf = r["id"]
        else:
            parent = ledger_ids.get(r[parent_col[r["level"]]])
            wf = r["workflowRunId"]
        ledger_ids[r["id"]] = nid
        spans.append(dict(id=nid, name=f"ledger.{r['level']}", parent=parent, wf_run=wf,
                          start=r["startzeitpunkt"], end=r["endzeitpunkt"]))
        nid += 1
        if r["level"] == "paketschritt":
            k = workloads.kind(runs.steps_cfg[r["refId"]])
            spans.append(dict(id=nid, name=f"step.{k}", parent=nid - 1, wf_run=wf,
                              start=r["ausfuehrungsstartzeitpunkt"], end=r["ausfuehrungsendzeitpunkt"]))
            nid += 1
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append([s["start"], s["end"]])
    self_time = {}
    for s in spans:
        covered = length(intersect(union(kids.get(s["id"], [])), [[s["start"], s["end"]]]))
        self_time[s["name"]] = self_time.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return {"spans": [{k: s[k] for k in ("id", "name", "parent", "wf_run", "start", "end")} for s in spans],
            "self_time_s": {k: round(v, 6) for k, v in sorted(self_time.items())}}

"""Seeded input generator for the service benchmark.

Writes everything the engine reads for one workload run:

* the catalog tables ``Tables.registerAll`` registers (TPC-H-shaped
  ``region`` .. ``lineitem`` plus ``events``, ``documents`` and
  ``embeddings``), with slice-bound rows seeded into ``lineitem``;
* the scaled curation corpus (``documents``) with seeded contamination,
  repetition and repeated-span content, so every curation filter drops
  rows;
* per-tick drop-folder batches (CSV and JSONL) and bloom arrival batches;
* the parquet config snapshot ``Service.loadConfig`` reads.

Usage: ``python3 gen.py <out_dir> <workload> <seed> [--small]``.
The same seed always produces byte-identical inputs.
"""

import datetime as dt
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import workloads

T = pa.timestamp("us")

# Input sizes per workload, and at the self-check scale. Tables a
# workload only registers (and never reads) stay small, so input
# generation and catalog registration do not grow the run.
_BASE = dict(lineitem=5_000, orders=1_000, supplier=1_000, customer=1_500, part=2_000,
             events=1_000, documents=500, drop_rows=2_000, arrival=4_000, batches=4)
SIZES = {
    "etl_load": dict(_BASE, lineitem=60_000, orders=15_000, documents=4_000, arrival=2_000),
    "service_dag": dict(_BASE),
    "curation": dict(_BASE, documents=15_000),
    "small": dict(lineitem=6_000, orders=1_500, supplier=100, customer=150,
                  part=200, events=100, documents=1_000, drop_rows=50,
                  arrival=200, batches=2),
}

VOCAB = ("the and of to a in is der die und das ist ein el la de que y es "
         "spark table scan join hash vector query group filter stream batch "
         "window merge value key row column order sort line part data fast "
         "slow big small agg customer supplier nation region price market "
         "index shard token corpus model train eval metric build store").split()


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # several row groups, so Spark splits a scan across its cores
    pq.write_table(table, path, row_group_size=max(1, (table.num_rows + 7) // 8))


def ts_array(values):
    return pa.array(values, type=T)


def catalog(out, rng, n):
    """The ten tables ``Tables.registerAll`` needs, TPC-H-shaped."""
    d = f"{out}/data"
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": regions}), f"{d}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION{i:02d}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
          f"{d}/nation.parquet")
    ns = n["supplier"]
    write(pa.table({"s_suppkey": pa.array(np.arange(ns), pa.int64()),
                    "s_name": [f"Supplier#{i:06d}" for i in range(ns)],
                    "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                    "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2))}),
          f"{d}/supplier.parquet")
    nc = n["customer"]
    write(pa.table({"c_custkey": pa.array(np.arange(nc), pa.int64()),
                    "c_name": [f"Customer#{i:06d}" for i in range(nc)],
                    "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                    "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
                    "c_mktsegment": pa.array(rng.choice(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"], nc))}),
          f"{d}/customer.parquet")
    npart = n["part"]
    write(pa.table({"p_partkey": pa.array(np.arange(npart), pa.int64()),
                    "p_name": [f"part {i}" for i in range(npart)],
                    "p_brand": pa.array(rng.choice([f"Brand#{i}" for i in range(1, 6)], npart)),
                    "p_type": pa.array(rng.choice(["STEEL", "BRASS", "TIN"], npart)),
                    "p_size": pa.array(rng.integers(1, 50, npart), pa.int32()),
                    "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, npart), 2))}),
          f"{d}/part.parquet")

    no = n["orders"]
    base = np.datetime64("1992-01-01")
    odates = base + rng.integers(0, 7 * 365, no).astype("timedelta64[D]")
    write(pa.table({"o_orderkey": pa.array(np.arange(no), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                    "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
                    "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, no), 2)),
                    "o_orderdate": ts_array(odates.astype("datetime64[us]")),
                    "o_orderpriority": pa.array(rng.choice(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no))}),
          f"{d}/orders.parquet")

    nl = n["lineitem"]
    ship = (base + rng.integers(0, 7 * 365, nl).astype("timedelta64[D]")).astype("datetime64[us]")
    # Slice-bound rows: the first 1/100 of the rows sit exactly on a month
    # start, the next 1/100 half a second before one, so a Zeitscheibe
    # copy that drops or doubles a bound row shows in the check.
    k = max(nl // 100, 24)
    months = np.array([np.datetime64(f"{y}-{m:02d}-01") for y in range(1992, 1999)
                       for m in range(1, 13)]).astype("datetime64[us]")
    ship[:k] = months[rng.integers(0, len(months), k)]
    ship[k:2 * k] = months[rng.integers(1, len(months), k)] - np.timedelta64(500_000, "us")
    write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) % 7 + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": ts_array(ship)}), f"{d}/lineitem.parquet")

    ne = n["events"]
    write(pa.table({"event_id": pa.array(np.arange(ne), pa.int64()),
                    "ts": ts_array((np.datetime64("2024-01-01") + rng.integers(
                        0, 86400, ne).astype("timedelta64[s]")).astype("datetime64[us]")),
                    "user_id": pa.array(rng.integers(0, 100, ne), pa.int64()),
                    "event_type": pa.array(rng.choice(["view", "click", "buy"], ne)),
                    "value": pa.array(np.round(rng.uniform(0, 100, ne), 2)),
                    "props": ["{}"] * ne}), f"{d}/events.parquet")
    write(pa.table({"vec_id": pa.array(np.arange(200), pa.int64()),
                    "embedding": pa.array([list(map(float, rng.standard_normal(8).astype(np.float32)))
                                           for _ in range(200)], pa.list_(pa.float32())),
                    "label": pa.array(rng.integers(0, 4, 200), pa.int32())}),
          f"{d}/embeddings.parquet")


def documents(out, rng, n):
    """The curation corpus, with seeded material for every filter.

    * contamination: spans copied out of holdout documents (doc_id % 10
      == 7) into other documents, so decontamination drops them;
    * repetition: documents built from one repeated phrase, so the
      repetition filter drops them;
    * repeated spans: 8-token boilerplate shared by many documents, so
      span removal cuts it.
    """
    nd = n["documents"]
    vocab = np.array(VOCAB)
    boiler = [" ".join(rng.choice(vocab, 10)) for _ in range(12)]
    texts = []
    for i in range(nd):
        toks = list(rng.choice(vocab, int(rng.integers(30, 110))))
        texts.append(toks)
    holdout = [i for i in range(nd) if i % 10 == 7]
    for i in range(nd):
        r = rng.random()
        if r < 0.06 and i % 10 != 7:
            src = texts[holdout[int(rng.integers(0, len(holdout)))]]
            at = int(rng.integers(0, max(1, len(src) - 8)))
            texts[i][5:5] = src[at:at + 8]
        elif r < 0.12:
            phrase = list(rng.choice(vocab, 3))
            texts[i] = phrase * int(rng.integers(8, 20))
        elif r < 0.30:
            pos = int(rng.integers(0, len(texts[i])))
            texts[i][pos:pos] = boiler[int(rng.integers(0, len(boiler)))].split()
    text = [" ".join(t) for t in texts]
    langs = np.array(["en", "de", "es", "fr", "zh"])
    write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": text,
        "lang": pa.array(langs[rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64())}),
        f"{out}/data/documents.parquet")
    return text


def md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def drops(out, rng, n):
    """Per-tick drop-folder batches: one CSV file and one JSONL file.

    The benchmark delivers batch ``tick % batches`` under the same file
    names every tick, so the ingest's delete-by-filename replaces the
    previous delivery and the drop tables stay one batch in size.
    """
    for b in range(n["batches"]):
        d = f"{out}/drops/b{b}"
        os.makedirs(d, exist_ok=True)
        for name in ("bestellungen.csv",):
            rows = n["drop_rows"]
            ids = rng.integers(0, 10**9, rows)
            amounts = np.round(rng.uniform(1, 5000, rows), 2)
            days = rng.integers(0, 365, rows)
            with open(f"{d}/{name}", "w") as f:
                f.write("BestellNr,KundenNr,Betrag,Datum\n")
                for j in range(rows):
                    day = dt.date(2025, 1, 1) + dt.timedelta(days=int(days[j]))
                    f.write(f"{ids[j]},{int(ids[j]) % 1000},{amounts[j]:.2f},{day}\n")
        rows = n["drop_rows"]
        with open(f"{d}/ereignisse.jsonl", "w") as f:
            for j in range(rows):
                f.write(json.dumps({"ereignis_id": int(rng.integers(0, 10**9)),
                                    "typ": ["view", "click", "buy"][int(rng.integers(0, 3))],
                                    "wert": round(float(rng.uniform(0, 100)), 2)}) + "\n")


def arrivals(out, rng, n, texts):
    """Bloom arrival batches: distinct keys, half from the history (the
    md5 fingerprints of documents with doc_id % 4 in (1, 2)), half new."""
    hist = [md5(texts[i]) for i in range(len(texts)) if i % 4 in (1, 2)]
    for b in range(n["batches"]):
        m = n["arrival"]
        old = [hist[int(i)] for i in rng.choice(len(hist), min(m // 2, len(hist)), replace=False)]
        new = [md5(f"arrival-{b}-{int(x)}") for x in rng.integers(0, 10**12, m - m // 2)]
        keys = list(dict.fromkeys(old + new))
        write(pa.table({"doc_id": pa.array(np.arange(len(keys)) + 10_000_000 * (b + 1), pa.int64()),
                        "fingerprint": keys}), f"{out}/arrivals/b{b}/part-0.parquet")


# -- config snapshot ---------------------------------------------------------

SCHEMAS = {
    "workflows": [("etlWorkflowId", pa.int32()), ("etlZeitplaeneId", pa.int32()),
                  ("etlPaketeId", pa.int64()), ("etlFallbackPaketeId", pa.int64()),
                  ("workflowname", pa.string()), ("uebernahmeVon", T), ("uebernahmeBis", T),
                  ("uebernahmeTageRueckwirkend", pa.int32()), ("parallelsperre", pa.bool_()),
                  ("istAktiv", pa.bool_())],
    "pakete": [("etlPaketeId", pa.int64()), ("paketname", pa.string()),
               ("parallelsperre", pa.bool_()), ("istAktiv", pa.bool_())],
    "abhaengigkeiten": [("etlWorkflowId", pa.int32()), ("etlPaketeId", pa.int64()),
                        ("vorlaufEtlPaketeId", pa.int64()), ("istAktiv", pa.bool_())],
    "umsetzungen": [("etlPaketUmsetzungenId", pa.int64()), ("anzahlParalleleSchritte", pa.int32()),
                    ("etlKonfigurationenId", pa.int64()), ("parallelsperre", pa.bool_()),
                    ("istAktiv", pa.bool_()), ("umsetzungsname", pa.string())],
    "paket_umsetzungen": [("etlWorkflowId", pa.int32()), ("etlPaketeId", pa.int64()),
                          ("etlPaketUmsetzungenId", pa.int64()), ("paketPriorisierung", pa.int32()),
                          ("mandantenId", pa.int32()), ("istAktiv", pa.bool_())],
    "schritte": [("etlPaketschritteId", pa.int64()), ("schrittname", pa.string()),
                 ("aufgabentyp", pa.string()), ("befehlstyp", pa.string()), ("befehl", pa.string()),
                 ("zieltabelle", pa.string()), ("quelltabelle", pa.string()),
                 ("parallelsperre", pa.bool_()), ("zeitscheibe", pa.bool_()), ("istAktiv", pa.bool_())],
    "umsetzung_schritte": [("etlPaketUmsetzungenId", pa.int64()), ("etlPaketschritteId", pa.int64()),
                           ("schrittReihenfolge", pa.int32()), ("etlWorkflowId", pa.int32()),
                           ("istAktiv", pa.bool_())],
    "zeitplaene": [("etlZeitplaeneId", pa.int32()), ("anfangsdatum", T), ("endedatum", T),
                   ("zeitplanIntervall", pa.string()), ("startzeit", pa.string()),
                   ("tageswiederholung", pa.int32()), ("wochenwiederholung", pa.int32()),
                   ("anJedemTag", pa.bool_()), ("inJedemMonat", pa.bool_()),
                   ("wochentage", pa.list_(pa.int32())), ("monate", pa.list_(pa.int32())),
                   ("wocheDesMonats", pa.int32()), ("monatsletzter", pa.bool_()),
                   ("sofortAusfuehrung", pa.bool_())],
    "schritt_parameter": [("etlPaketschritteId", pa.int64()), ("kopfzeile", pa.bool_()),
                          ("trennzeichen", pa.string()), ("zahlenformat", pa.string()),
                          ("datumsformat", pa.string()), ("textqualifizierer", pa.string()),
                          ("escapecharacter", pa.string()), ("leerwert", pa.string()),
                          ("einzeldatei", pa.bool_())],
    "email_verteiler": [("etlWorkflowId", pa.int32()), ("empfaenger", pa.string()),
                        ("nurFehler", pa.bool_()), ("cc", pa.bool_()), ("istAktiv", pa.bool_())],
    "konfigurationsparameter": [("parametername", pa.string()), ("parameterwert", pa.string())],
}


def write_config(out, cfg):
    for name, fields in SCHEMAS.items():
        rows = cfg.get(name, [])
        cols = {f: [r.get(f) for r in rows] for f, _ in fields}
        schema = pa.schema(fields)
        write(pa.table({f: pa.array(cols[f], t) for f, t in fields}, schema=schema),
              f"{out}/config/{name}/part-0.parquet")


def generate(out, workload, seed, small=False):
    n = SIZES["small" if small else workload]
    rng = np.random.default_rng(seed)
    catalog(out, rng, n)
    texts = documents(out, rng, n)
    drops(out, rng, n)
    arrivals(out, rng, n, texts)
    cfg = workloads.config(workload, os.path.abspath(out))
    write_config(out, cfg)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "small": small,
                   "sizes": n, "batches": n["batches"]}, f)


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), "--small" in sys.argv)

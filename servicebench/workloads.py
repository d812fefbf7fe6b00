"""The three workloads as config snapshots (`pc.*` / `conf.*` rows).

Every workflow carries an explicit takeover window, so the real ledger
clock never changes which rows a run selects. Schedules start at
``SCHEDULE_START``; the benchmark ticks the engine one minute of schedule
time per tick.
"""

import datetime as dt

SCHEDULE_START = dt.datetime(2026, 1, 5, 0, 0, 0)

# step id -> layer kind, derived from the step row (see `kind`)
KINDS = ("copy", "timeslice", "ingest", "export", "maintenance", "sql",
         "pipeline", "stream", "test")


def kind(step):
    b, a = step["befehlstyp"], step["aufgabentyp"]
    if b == "COPY":
        if a == "MAINTENANCE":
            return "maintenance"
        if a == "PIPELINE":
            return "pipeline"
        if a == "STREAM":
            return "stream"
        return "timeslice" if step["zeitscheibe"] else "copy"
    if b == "TRANSFER":
        return "export" if a == "CSV" else "ingest"
    if b in ("SQL_TARGET", "SQL_SOURCE"):
        return "sql"
    return "test"


class Builder:
    """Accumulates config rows; ids are chosen by the caller."""

    def __init__(self):
        self.cfg = {k: [] for k in (
            "workflows", "pakete", "abhaengigkeiten", "umsetzungen",
            "paket_umsetzungen", "schritte", "umsetzung_schritte", "zeitplaene",
            "schritt_parameter", "email_verteiler", "konfigurationsparameter")}

    def schedule(self, zid, interval, offset_min=0):
        # fixed intervals step from Anfangsdatum's date at Startzeit
        self.cfg["zeitplaene"].append(dict(
            etlZeitplaeneId=zid, anfangsdatum=SCHEDULE_START, endedatum=None,
            zeitplanIntervall=interval, startzeit=f"00:{offset_min:02d}:00", tageswiederholung=0,
            wochenwiederholung=0, anJedemTag=True, inJedemMonat=True, wochentage=[],
            monate=[], wocheDesMonats=0, monatsletzter=False, sofortAusfuehrung=False))

    def workflow(self, wid, zid, master, name, von, bis, mail=False):
        self.cfg["workflows"].append(dict(
            etlWorkflowId=wid, etlZeitplaeneId=zid, etlPaketeId=master,
            etlFallbackPaketeId=None, workflowname=name, uebernahmeVon=von,
            uebernahmeBis=bis, uebernahmeTageRueckwirkend=None, parallelsperre=False,
            istAktiv=True))
        if mail:
            self.cfg["email_verteiler"].append(dict(
                etlWorkflowId=wid, empfaenger=f"etl-{wid}@example.org", nurFehler=False,
                cc=False, istAktiv=True))

    def package(self, wid, pid, name, deps=(), realizations=()):
        """realizations: [(rid, priority, cap, exclusive, [step, ...])]"""
        self.cfg["pakete"].append(dict(etlPaketeId=pid, paketname=name,
                                       parallelsperre=False, istAktiv=True))
        for d in deps:
            self.cfg["abhaengigkeiten"].append(dict(
                etlWorkflowId=wid, etlPaketeId=pid, vorlaufEtlPaketeId=d, istAktiv=True))
        for rid, prio, cap, excl, steps in realizations:
            self.cfg["umsetzungen"].append(dict(
                etlPaketUmsetzungenId=rid, anzahlParalleleSchritte=cap,
                etlKonfigurationenId=None, parallelsperre=excl, istAktiv=True,
                umsetzungsname=f"{name}-{rid}"))
            self.cfg["paket_umsetzungen"].append(dict(
                etlWorkflowId=wid, etlPaketeId=pid, etlPaketUmsetzungenId=rid,
                paketPriorisierung=prio, mandantenId=None, istAktiv=True))
            for order, s in enumerate(steps, 1):
                self.cfg["schritte"].append(dict(
                    etlPaketschritteId=s["id"], schrittname=s.get("name", f"s{s['id']}"),
                    aufgabentyp=s.get("aufgabentyp", "SQL"), befehlstyp=s["befehlstyp"],
                    befehl=s["befehl"], zieltabelle=s.get("ziel"), quelltabelle=s.get("quelle"),
                    parallelsperre=s.get("sperre", False), zeitscheibe=s.get("zeitscheibe", False),
                    istAktiv=True))
                self.cfg["umsetzung_schritte"].append(dict(
                    etlPaketUmsetzungenId=rid, etlPaketschritteId=s["id"],
                    schrittReihenfolge=order, etlWorkflowId=wid, istAktiv=True))
                if s.get("einzeldatei"):
                    self.cfg["schritt_parameter"].append(dict(
                        etlPaketschritteId=s["id"], kopfzeile=True, trennzeichen=";",
                        zahlenformat=None, datumsformat=None, textqualifizierer=None,
                        escapecharacter=None, leerwert=None, einzeldatei=True))

    def param(self, name, value):
        self.cfg["konfigurationsparameter"].append(dict(parametername=name, parameterwert=value))


def copy(sid, sql, ziel, **kw):
    return dict(id=sid, befehlstyp="COPY", befehl=sql, ziel=ziel, **kw)


def maint(sid, cmd, ziel):
    return dict(id=sid, befehlstyp="COPY", aufgabentyp="MAINTENANCE", befehl=cmd, ziel=ziel)


def retention(sid, table):
    # retention horizon: rows of earlier workflow runs
    return maint(sid, 'delete_where predicate="lauf_id < ##ETL_Prozesslaeufe_ID##"', table)


RUN = "##ETL_Prozesslaeufe_ID## AS lauf_id"
LI_COLS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
           "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate")
AGG_SQL = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
           "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price, "
           "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_qty "
           "FROM lineitem GROUP BY l_returnflag, l_linestatus")
ETL_VON = dt.datetime(1993, 1, 1, 0, 0, 0)
ETL_BIS = dt.datetime(1996, 12, 31, 23, 59, 59)
CUR_VON = dt.datetime(1996, 3, 1, 0, 0, 0)
CUR_BIS = dt.datetime(1996, 3, 28, 23, 59, 59)


def etl_load(b, out):
    b.schedule(1, "Minute")
    b.workflow(1, 1, 35, "etl_load", ETL_VON, ETL_BIS)
    b.package(1, 101, "kopie", realizations=[(1010, 1, 2, False, [
        copy(10101, f"SELECT {LI_COLS}, {RUN} FROM lineitem", "li_copy"),
        copy(10102, f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                    f"{RUN} FROM orders", "ord_copy")])])
    b.package(1, 102, "zeitscheibe", realizations=[(1020, 1, 1, False, [
        copy(10201, f"SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice, {RUN} "
                    "FROM lineitem WHERE l_shipdate BETWEEN ##Uebernahme_von## AND "
                    "##Uebernahme_bis##", "li_slices", zeitscheibe=True)])])
    b.package(1, 103, "eingang", realizations=[(1030, 1, 2, False, [
        dict(id=10301, befehlstyp="TRANSFER", befehl=f"{out}/drop/csv", ziel="drop_bestellungen"),
        dict(id=10302, befehlstyp="TRANSFER", aufgabentyp="JSONL", befehl=f"{out}/drop/jsonl",
             ziel="drop_ereignisse")])])
    b.package(1, 104, "aggregat", realizations=[(1040, 1, 1, False, [
        dict(id=10401, befehlstyp="SQL_TARGET", befehl=f"CREATE OR REPLACE TEMP VIEW li_agg_v AS {AGG_SQL}"),
        copy(10402, f"SELECT *, {RUN} FROM li_agg_v", "li_agg"),
        dict(id=10403, befehlstyp="TRANSFER", aufgabentyp="CSV", einzeldatei=True,
             befehl="SELECT * FROM li_agg_v ORDER BY l_returnflag, l_linestatus",
             ziel=f"{out}/export/li_agg")])])
    b.package(1, 105, "pflege", deps=(101, 102, 103, 104), realizations=[(1050, 1, 4, False, [
        retention(10501, "li_copy"), retention(10502, "ord_copy"),
        retention(10503, "li_slices"), retention(10504, "li_agg"),
        maint(10505, "compact", "drop_bestellungen"), maint(10506, "compact", "drop_ereignisse"),
        maint(10507, "refresh_stats cols=l_shipdate,l_orderkey", "li_copy")])])
    # the curation chain over a small corpus runs beside the bulk
    # packages; its literals select the q103 oracle's documents and
    # holdout, and its stream package (the master) closes the workflow
    curation_packages(b, 1, out, 1, 28, 7, stream_after=(105,))
    b.param("Anzahl_ETL_Threads", "4")


def service_dag(b, out):
    """Three workflows on overlapping minutely schedules, each a
    fan-out/fan-in DAG of 4 packages x 2 realizations and 24 steps over
    shared target tables."""
    # workflow 23 first falls due on the second tick, so the cold first
    # tick runs two workflows, and the timed ticks alternate three and two
    intervals = {21: ("Minute", 0), 22: ("Minute", 0), 23: ("DreiMinuten", 1)}
    for w, (interval, offset) in intervals.items():
        b.schedule(w, interval, offset)
        b.workflow(w, w, w * 10 + 4, f"service_dag_{w}", ETL_VON, ETL_BIS, mail=True)
        s = iter(range(w * 1000 + 1, w * 1000 + 100))

        def check(table, n):
            return dict(id=next(s), befehlstyp="SQL_SOURCE",
                        befehl=f"SELECT CASE WHEN COUNT(*) = {n} THEN 1 ELSE -1 END AS ok FROM {table}")

        def test():
            return dict(id=next(s), befehlstyp="TEST", befehl="0")

        def export(table, tag):
            return dict(id=next(s), befehlstyp="TRANSFER", aufgabentyp="CSV", einzeldatei=True,
                        befehl=f"SELECT * FROM {table}", ziel=f"{out}/export/w{w}_{tag}")

        def cp(table, sperre=False):
            return copy(next(s), f"SELECT *, {RUN} FROM {table}", f"dag_{table}", sperre=sperre)

        r = w * 100
        b.package(w, w * 10 + 1, "a", realizations=[
            (r + 1, 1, 2, False, [check("nation", 25), cp("region"), test()]),
            (r + 2, 1, 2, False, [check("region", 5), cp("nation"), test()])])
        b.package(w, w * 10 + 2, "b", deps=(w * 10 + 1,), realizations=[
            (r + 3, 1, 2, False, [cp("supplier", sperre=True), export("region", "b1"), test()]),
            (r + 4, 2, 2, False, [cp("nation"), check("nation", 25), test()])])
        b.package(w, w * 10 + 3, "c", deps=(w * 10 + 1,), realizations=[
            (r + 5, 1, 2, False, [cp("region"), export("nation", "c1"), check("region", 5)]),
            (r + 6, 1, 2, True, [cp("supplier", sperre=True), test(), check("nation", 25)])])
        b.package(w, w * 10 + 4, "d", deps=(w * 10 + 2, w * 10 + 3), realizations=[
            (r + 7, 1, 1, False, [retention(next(s), "dag_region"), retention(next(s), "dag_nation"),
                                  retention(next(s), "dag_supplier")]),
            (r + 8, 1, 2, False, [export("supplier", "d2"), test(), check("region", 5)])])
    b.param("Anzahl_ETL_Threads", "3")


def curation_packages(b, wid, out, lo, hi, holdout, stream_after=()):
    """The q103 curation chain (decontaminate || repetition -> span_removal
    -> mixture_budget as PIPELINE steps) over the documents with
    doc_id % 100 in [lo, hi], plus a history COPY and the STREAM step
    `bloom_ingest_stream` over one arrival batch, in the sink package 35,
    which also waits for the packages ``stream_after``."""
    pipe = dict(befehlstyp="COPY", aufgabentyp="PIPELINE")
    b.package(wid, 31, "quelle", realizations=[(310, 1, 1, False, [dict(
        id=3100, befehlstyp="SQL_TARGET",
        befehl="CREATE OR REPLACE TEMP VIEW cur_src AS SELECT doc_id, text, lang, source "
               f"FROM documents WHERE pmod(doc_id, 100) BETWEEN {lo} AND {hi}")])])
    b.package(wid, 32, "filter", deps=(31,), realizations=[(320, 1, 2, False, [
        dict(id=3200, befehl=f"decontaminate in=cur_src holdout={holdout}", ziel="cur_clean", **pipe),
        dict(id=3201, befehl="repetition in=cur_src", ziel="cur_keep", **pipe)])])
    b.package(wid, 33, "mischung", deps=(32,), realizations=[(330, 1, 1, False, [
        dict(id=3300, befehl="span_removal docs=cur_src clean=cur_clean keep=cur_keep n=8",
             ziel="cur_cleaned", quelle="cur_clean,cur_keep", **pipe),
        dict(id=3301, befehl="mixture_budget in=cur_cleaned epoch=1000 budget=800",
             ziel="cur_manifest", quelle="cur_cleaned", **pipe)])])
    b.package(wid, 34, "historie", realizations=[(340, 1, 1, False, [
        copy(3400, "SELECT md5(text) AS fingerprint FROM documents WHERE pmod(doc_id, 4) IN (1, 2)",
             "bl_hist")])])
    b.package(wid, 35, "bloom", deps=(33, 34) + tuple(stream_after), realizations=[(350, 1, 1, False, [dict(
        id=3500, befehlstyp="COPY", aufgabentyp="STREAM",
        befehl=f"bloom_ingest_stream dir={out}/stream/in ckpt={out}/stream/ckpt "
               "schema=\"doc_id BIGINT, fingerprint STRING\" key=fingerprint seed=bl_hist "
               "seen=bl_seen bloom=bl_bloom out=bl_admitted mbits=65536 k=5 maxfiles=1",
        ziel="bl_admitted", quelle="bl_hist,bl_seen,bl_bloom")])])


def curation(b, out):
    """The q103 curation workflow: workflow id 7 is its decontamination
    holdout residue, and the takeover window's days 1..28 select its
    documents (the q103 oracle's doc_id % 100 BETWEEN 1 AND 28)."""
    b.schedule(7, "Minute")
    b.workflow(7, 7, 35, "curation", CUR_VON, CUR_BIS)
    curation_packages(b, 7, out, "##Uebernahme_von## % 100", "##Uebernahme_bis## % 100",
                      "##Workflow_ID##")
    b.param("Anzahl_ETL_Threads", "4")


WORKLOADS = {"etl_load": etl_load, "service_dag": service_dag, "curation": curation}

def config(workload, out):
    b = Builder()
    WORKLOADS[workload](b, out)
    return b.cfg

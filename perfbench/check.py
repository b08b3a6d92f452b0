"""Correctness checks, made after the timed loop.

olap_sql / curation_pipeline: each op's result hash must equal the hash of
the first execution of the same op, and that first result must equal the
DuckDB answer of the registry oracle SQL over the same generated parquet.
lakehouse_rw: every cycle's reads must equal a model of the table state
replayed here from the generated plan.
"""
import datetime
import decimal
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

from gen import ALL_TABLES


def norm(v):
    """One canonical string per value, for results parsed from the engine's
    JSON and for DuckDB's Python values alike."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        v = v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def normalize(cols, rows):
    """Columns sorted by name, rows sorted: the order-insensitive form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_mismatches(input_dir, answers, oracles):
    """Names whose engine answer differs from the DuckDB oracle, with why."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ALL_TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, ans in answers.items():
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # an oracle that cannot run checks nothing
            bad[name] = f"oracle failed: {str(e).splitlines()[0][:200]}"
            continue
        mc, mr = normalize(ans["cols"], ans["rows"])
        oc, orr = normalize(ocols, orows)
        if mc != oc:
            bad[name] = f"columns {mc} vs oracle {oc}"
        elif mr != orr:
            diff = next(((a, b) for a, b in zip(mr, orr) if a != b), None)
            bad[name] = f"rows {len(mr)} vs oracle {len(orr)}; first diff {diff}"[:300]
    return bad


def check_answers(out_dir, input_dir, ops):
    with open(os.path.join(out_dir, "answers.json")) as f:
        answers = json.load(f)
    with open(os.path.join(out_dir, "oracles.json")) as f:
        oracles = json.load(f)
    bad = oracle_mismatches(input_dir, answers, oracles)
    for op in ops:
        a = answers.get(op["name"])
        if not op["ok"]:
            continue
        if a is None or op["name"] in bad:
            op["ok"], op["err"] = False, bad.get(op["name"], "no checked answer")
        elif op["hash"] != a["hash"]:
            op["ok"], op["err"] = False, "result differs from the checked execution"
    return bad


class LakeModel:
    """The table as a dict id -> (k, v in cents), with the snapshot state
    at the end of each cycle for time travel and changelog checks."""

    def __init__(self, lake_dir):
        self.dir = lake_dir
        with open(os.path.join(lake_dir, "plan.json")) as f:
            self.plan = json.load(f)["cycles"]
        self.rows = self._load("base.parquet")

    def _load(self, fn):
        t = pq.read_table(os.path.join(self.dir, fn)).to_pydict()
        return {i: (k, round(v * 100)) for i, k, v in zip(t["id"], t["k"], t["v"])}

    @staticmethod
    def count_sum(rows, lo=None, hi=None):
        sel = [v for k, v in rows.values() if lo is None or lo <= k < hi]
        return [len(sel), sum(sel)]

    def cycle(self, c):
        """Applies cycle `c` and returns the expected read results."""
        p = self.plan[c]
        before = dict(self.rows)
        batch = self._load(f"batch_{c}.parquet")
        self.rows.update(batch)
        dlo, dhi = p["delete"]
        deleted = [i for i, (k, _) in self.rows.items() if dlo <= k < dhi]
        for i in deleted:
            del self.rows[i]
        up = self._load(f"upsert_{c}.parquet")
        replaced = sum(1 for i in up if i in self.rows)
        self.rows.update(up)
        rlo, rhi = p["read"]
        # one snapshot per verb: the changelog since the previous cycle lists
        # the batch and the upserted rows as inserts, and the range-deleted
        # rows and the rows the upsert replaced as deletes
        return {
            "full": self.count_sum(self.rows),
            "pruned": self.count_sum(self.rows, rlo, rhi),
            "time_travel": self.count_sum(before),
            "changelog": {"insert": len(batch) + len(up),
                          "delete": len(deleted) + replaced},
        }


def check_lake(out_dir, input_dir, ops):
    """Each set-up round builds its own table from the base, so the model
    starts afresh whenever the round changes."""
    model, round_ = None, None
    by_id = {op["id"]: op for op in ops}
    bad = {}
    with open(os.path.join(out_dir, "lake_checks.jsonl")) as f:
        checks = [json.loads(line) for line in f]
    for chk in checks:
        if chk["round"] != round_:
            model, round_ = LakeModel(os.path.join(input_dir, "lake")), chk["round"]
        exp = model.cycle(chk["cycle"])
        got_cl = chk["changelog"]
        verdict = {
            "scan_full": chk["full"] == exp["full"],
            "scan_pruned": chk["pruned"] == exp["pruned"],
            "time_travel": chk["time_travel"] == exp["time_travel"],
            "changelog": {k: int(got_cl.get(k, 0)) for k in ("insert", "delete")}
            == exp["changelog"],
        }
        # a commit is right when the state it leaves reads right
        for verb in ("append", "delete", "upsert"):
            verdict[verb] = verdict["scan_full"]
        for name, good in verdict.items():
            op = by_id.get(chk["ops"][name])
            if not good:
                key = "full" if name in ("scan_full", "append", "delete", "upsert") else name
                bad[f"cycle {chk['cycle']} {name}"] = {"got": chk[key], "want": exp[key]}
                if op is not None and op["ok"]:
                    op["ok"], op["err"] = False, "read differs from the table model"
    return bad


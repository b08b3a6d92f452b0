"""Metric arithmetic: span self time, and the end-to-end and per-layer metrics computed from one run's output files."""
import statistics

# Where a stage's operator call ends and its execution begins (see
# Ctx.collect in Main.scala): call = the operator building its DataFrame,
# including eager sub-jobs; run = collecting the result.
STAGES = ["dedup_exact_keep", "dedup_minhash", "text_quality", "text_langid",
          "cur_pii", "cur_decontaminate", "text_bpe_apply", "dedup_semantic",
          "embed_ivf_topk", "embed_pq_adc"]
TPCH = [f"tpch_q{i}" for i in range(1, 23)]
TABLE_OPS = ["append", "delete", "upsert", "scan_full", "scan_pruned",
             "changelog", "time_travel", "compact", "expire"]
LAYERS = ["bench", "session", "exec", "operators", "sources"]


def union_length(intervals):
    """Total length covered by possibly overlapping [t0, t1) intervals."""
    total, end = 0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, t0, t1."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                   for c in kids.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(covered)
    return out


def attach_jobs(spans, jobs):
    """Spark jobs become `exec` spans, children of the deepest span of their
    op that was open when the job started."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    next_id = max((s["id"] for s in spans), default=-1) + 1
    out = list(spans)
    for j in jobs:
        open_ = [s for s in by_op.get(j["op"], []) if s["t0"] <= j["t0"] <= s["t1"]]
        if not open_:
            continue
        parent = max(open_, key=lambda s: s["t0"])
        out.append({"op": j["op"], "id": next_id, "parent": parent["id"],
                    "layer": "exec", "name": "job", "t0": max(j["t0"], parent["t0"]),
                    "t1": min(max(j["t1"], j["t0"]), parent["t1"])})
        next_id += 1
    return out


def space_amp(table_bytes, plain_bytes):
    """Bytes the table occupies over the bytes of its live rows written once
    as plain parquet."""
    if plain_bytes <= 0:
        raise ValueError("no live bytes")
    return table_bytes / plain_bytes


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(ops, run):
    """The end-to-end metrics of an untraced run, plus sample counts."""
    lat = [(o["t1"] - o["t0"]) / 1e6 for o in ops]
    elapsed = run["elapsed_s"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    m = {
        "setup_s": (statistics.median(run["setup_s"]), "s", len(run["setup_s"])),
        "op_p50_ms": (statistics.median(lat), "ms", len(lat)),
        "ops_per_s": (attempted / elapsed, "1/s", attempted),
        "rows_per_s": (sum(o["rows"] for o in ops) / elapsed, "1/s", attempted),
        "success_ratio": ((attempted - failed) / attempted, "ratio", attempted),
        "peak_rss_mb": (run["peak_rss_mb"], "MB", 1),
    }
    return m


def per_layer(ops, run, spans, jobs, tasks):
    """Per-layer metrics of a traced run. Span, job and task figures come from
    the traced passes and are per traced op unless named otherwise; op
    latencies (`op.*`) come from all passes of the run."""
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    n_traced = max(1, len(traced))
    ms = lambda s: (s["t1"] - s["t0"]) / 1e6
    m = {}

    def spans_named(layer, name, op_name=None):
        ids = None if op_name is None else {o["id"] for o in traced if o["name"] == op_name}
        return [ms(s) for s in spans if s["layer"] == layer and s["name"] == name
                and (ids is None or s["op"] in ids)]

    m["session.sql_ms"] = (_median(spans_named("session", "sql")), "ms")
    m["session.plan_ms"] = (_median(spans_named("session", "plan")), "ms")

    cores = run["cores"]
    wall = sum((o["t1"] - o["t0"]) for o in traced) / 1e9
    tsum = lambda k: sum(t.get(k, 0) for t in tasks)
    m["exec.jobs"] = (len(jobs) / n_traced, "count")
    m["exec.stages"] = (sum(j["stages"] for j in jobs) / n_traced, "count")
    m["exec.tasks"] = (len(tasks) / n_traced, "count")
    m["exec.task_wait_ms"] = (tsum("wait_ms") / n_traced, "ms")
    m["exec.task_run_s"] = (tsum("run_ms") / 1e3 / n_traced, "s")
    m["exec.task_cpu_s"] = (tsum("cpu_ns") / 1e9 / n_traced, "s")
    m["exec.gc_s"] = (tsum("gc_ms") / 1e3 / n_traced, "s")
    m["exec.shuffle_write_bytes"] = (tsum("shuffle_write") / n_traced, "bytes")
    m["exec.shuffle_read_bytes"] = (tsum("shuffle_read") / n_traced, "bytes")
    m["exec.shuffle_fetch_wait_ms"] = (tsum("fetch_wait_ms") / n_traced, "ms")
    m["exec.spill_bytes"] = (tsum("spill") / n_traced, "bytes")
    m["exec.input_records"] = (tsum("input_records") / n_traced, "count")
    m["exec.failed_tasks"] = (sum(1 for t in tasks if t["failed"]), "count")
    m["exec.busy_ratio"] = (tsum("run_ms") / 1e3 / (wall * cores) if wall else 0.0, "ratio")

    for st in STAGES:
        m[f"operators.{st}.call_ms"] = (_median(spans_named("operators", "call", st)), "ms")
        m[f"operators.{st}.run_ms"] = (_median(spans_named("exec", "collect", st)), "ms")
    extra = run.get("extra", {})
    m["operators.lsh_precision"] = (
        extra["lsh_verified"] / extra["lsh_candidates"] if extra.get("lsh_candidates") else 0.0, "ratio")
    m["operators.dup_removed_ratio"] = (
        (extra["docs"] - extra["exact_kept"] + extra["near_dropped"]) / extra["docs"]
        if extra.get("docs") else 0.0, "ratio")
    m["operators.ann_recall_at_k"] = (extra.get("ann_recall_at_k", 0.0), "ratio")

    for verb in ("append", "delete", "upsert", "compact", "expire"):
        m[f"sources.{verb}_ms"] = (_median(spans_named("sources", verb)), "ms")
    writes = extra.get("writes", [])
    logical = sum(w["logical"] for w in writes)
    m["sources.write_amp"] = (sum(w["physical"] for w in writes) / logical if logical else 0.0, "ratio")
    m["sources.scan_plan_ms"] = (_median(spans_named("sources", "scan_plan")), "ms")
    m["sources.scan_run_ms"] = (_median(spans_named("sources", "scan_run")), "ms")
    pr = extra.get("pruning", [])
    total = sum(p["files_total"] for p in pr)
    m["sources.files_pruned_ratio"] = (
        1 - sum(p["files_scanned"] for p in pr) / total if total else 0.0, "ratio")
    shapes = extra.get("shapes", [])
    for k in ("data_files", "delete_files", "manifests", "metadata_bytes"):
        m[f"sources.{k}"] = (_median([s[k] for s in shapes]), "bytes" if k.endswith("bytes") else "count")
    m["sources.space_amp"] = (
        _median([space_amp(s["table_bytes"], s["plain_bytes"]) for s in shapes]), "ratio")

    for name in STAGES + TABLE_OPS:
        m[f"op.{name}_ms"] = (_median([(o["t1"] - o["t0"]) / 1e6 for o in ops
                                       if o["name"] == name]), "ms")

    all_spans = attach_jobs(spans, jobs)
    st = self_times(all_spans)
    layer_of = {s["id"]: s["layer"] for s in all_spans}
    for layer in LAYERS:
        tot = sum(v for i, v in st.items() if layer_of[i] == layer)
        m[f"self.{layer}_ms"] = (tot / 1e6 / n_traced, "ms")

    diffs, base = [], []
    for name in sorted({o["name"] for o in ops}):
        a = [(o["t1"] - o["t0"]) / 1e6 for o in traced if o["name"] == name]
        b = [(o["t1"] - o["t0"]) / 1e6 for o in plain if o["name"] == name]
        if a and b:
            diffs.append(statistics.median(a) - statistics.median(b))
            base.append(statistics.median(b))
    m["trace.overhead_ms"] = (_median(diffs), "ms")
    m["trace.overhead_ratio"] = (sum(diffs) / sum(base) if base and sum(base) else 0.0, "ratio")
    return m

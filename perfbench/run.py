#!/usr/bin/env python3
"""The repo benchmark: one seeded closed-loop workload per run.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark JVM program from source
(perfbench/build.sbt; skipped when the sources are unchanged since the last
build), generates the workload's inputs from the seed, runs it, checks every
operation's output, and prints the metrics. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
it carries the end-to-end metrics, with --trace 1 the per-layer metrics of
a traced run (spans are written to the run's output directory).
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Input sizes per workload. olap_sql keeps the data small so per-query fixed
# cost (parse, analysis, planning, scheduling, shuffle set-up) is a large
# share; curation_pipeline's corpus is as large as the time budget of a run
# allows; lakehouse_rw keeps each commit small so a run holds many cycles,
# and plans more cycles than a run reaches (the timed loop stops early
# when they run out).
OLAP_SF = 0.01
CORPUS_DOCS, CORPUS_VECS = 400, 200
LAKE = dict(base_rows=20_000, batch_rows=2_000, upsert_rows=400, cycles=24)

WORKLOADS = ("olap_sql", "curation_pipeline", "lakehouse_rw")
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"
SETUPS = 6  # per untraced run; a traced run reports no setup_s and sets up once
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            with open(p, "rb") as f:
                h.update(p.encode() + b"\0" + f.read())
    return h.hexdigest()


def spark_install():
    """SPARK_HOME, else the first PATH entry that is a Spark `bin/` (a
    directory holding spark-submit beside a sibling `jars/`)."""
    candidates = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((c for c in candidates if c and os.path.isdir(os.path.join(c, "jars"))), None)


def build():
    """Compiles engine + benchmark with sbt (offline) unless the stamp of the
    sources matches the last build. Returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found beside perfbench/")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    spark_home = spark_install()
    if spark_home is None:
        fail("no Spark installation found (set SPARK_HOME)", 3)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata files, temp files inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = r.stdout.splitlines()
    cp = [l for l in lines if "perfbench/target" in l and "classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        log("\n".join(lines[-40:]))
        fail("build failed", 3)
    log(f"perfbench: built in {time.time() - t0:.0f}s")
    classpath = cp[-1].strip() + os.pathsep + os.path.join(ROOT, "src", "main", "resources")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def generate(workload, seed, input_dir):
    """Builds the workload's inputs; returns their digest."""
    import numpy as np
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "olap_sql":
        gen.write_tables(input_dir, gen.tpch(rng, OLAP_SF))
        with open(os.path.join(input_dir, "order.json"), "w") as f:
            json.dump(gen.query_orders(rng, stats.TPCH, 400), f)
    elif workload == "curation_pipeline":
        t = gen.tpch(rng, 0.001)
        t["events"] = gen.events(rng, 1000)
        t["documents"] = gen.documents(rng, CORPUS_DOCS)
        t["embeddings"] = gen.embeddings(rng, CORPUS_VECS)
        gen.write_tables(input_dir, t)
    else:
        gen.lakehouse(rng, os.path.join(input_dir, "lake"), **LAKE)
    return gen.digest(input_dir)


def run_jvm(classpath, workload, dirs, seconds, trace):
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={dirs['tmp']}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", workload, dirs["input"], dirs["work"],
           dirs["out"], str(seconds), str(trace), str(CORES), str(1 if trace else SETUPS)]
    with open(os.path.join(dirs["out"], "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=dirs["work"])
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark JVM timed out", 4)
    if rc != 0:
        with open(os.path.join(dirs["out"], "jvm.log")) as f:
            log("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}", 4)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    base = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: os.path.join(base, k) for k in ("input", "work", "out", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    t0 = time.time()
    inputs = generate(a.workload, a.seed, dirs["input"])
    gen_s = time.time() - t0

    run_jvm(classpath, a.workload, dirs, a.seconds, a.trace)

    with open(os.path.join(dirs["out"], "run.json")) as f:
        run = json.load(f)
    ops = read_jsonl(os.path.join(dirs["out"], "ops.jsonl"))
    warm = read_jsonl(os.path.join(dirs["out"], "warmup_ops.jsonl"))
    checked = ops + warm
    if a.workload == "lakehouse_rw":
        bad = check.check_lake(dirs["out"], dirs["input"], checked)
    else:
        bad = check.check_answers(dirs["out"], dirs["input"], checked)
    failed_ops = [o for o in checked if not o["ok"]]
    if not ops:
        fail("no operation completed in the timed loop", 5)

    if a.trace:
        spans = read_jsonl(os.path.join(dirs["out"], "spans.jsonl"))
        jobs = read_jsonl(os.path.join(dirs["out"], "jobs.jsonl"))
        tasks = read_jsonl(os.path.join(dirs["out"], "tasks.jsonl"))
        layer = stats.per_layer(ops, run, spans, jobs, tasks)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        counts = {}
    else:
        e2e = stats.end_to_end(ops, run)
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        counts = {k: n for k, (_, _, n) in e2e.items()}

    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "machine": {"nproc": os.cpu_count(), "cores_used": run["cores"],
                    "loadavg_start": run["loadavg_start"], "loadavg_end": run["loadavg_end"],
                    "jvm": run["jvm"], "spark": run["spark"], "heap_mb": run["max_heap_mb"],
                    "python": platform.python_version()},
        "loop": {"kind": "closed", "clients": 1, "elapsed_s": run["elapsed_s"],
                 "passes": run["passes"], "setup_samples_s": run["setup_s"]},
        "inputs": {"generate_s": gen_s, **inputs},
        "correctness": {"checked_ops": len(checked), "failed_ops": len(failed_ops),
                        "mismatches": bad,
                        "errors": sorted({o["err"] for o in failed_ops if o.get("err")})[:10]},
        "samples": counts, "metrics": metrics,
    }
    with open(os.path.join(dirs["out"], "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for d in ("input", "work", "tmp"):
        shutil.rmtree(dirs[d], ignore_errors=True)

    m = summary["machine"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={m['nproc']} "
          f"cores={m['cores_used']} loadavg={m['loadavg_start']:.2f}->{m['loadavg_end']:.2f} "
          f"jvm={m['jvm']} passes={run['passes']} elapsed={run['elapsed_s']:.2f}s "
          f"inputs={inputs['sha256'][:16]}")
    for k, v in metrics.items():
        n = counts.get(k)
        print(f"#   {k:<40} {v['value']:>14.6g} {v['unit']}" + (f"  (n={n})" if n else ""))
    print(f"#   correct={not failed_ops} checked={len(checked)} failed={len(failed_ops)}"
          f" spans={os.path.join(dirs['out'], 'spans.jsonl') if a.trace else '-'}")
    print(json.dumps({"correct": not failed_ops, "attempted": len(checked),
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()

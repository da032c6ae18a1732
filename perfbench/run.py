#!/usr/bin/env python3
"""graft's per-change benchmark: one workload per invocation.

    python3 perfbench/run.py --workload hfp --seed 1 --seconds 16 --trace 0

Run from the repository root.  Builds graft plus the JVM driver in
``perfbench/scala`` (see ``build.py``), generates the seeded inputs, runs the
workload in one JVM at ``local[4]``, checks its outputs, and prints one JSON
object as the last line of stdout:

    {"correct": true, "attempted": n, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` ones of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` ones, and the span
tree is kept in ``.bench_work/``.  Every run also writes a result file with
its provenance to ``.bench_work/results/``.  See ``perfbench/README.md``.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

CORES = 4
HEAP = "2g"
JVM_TIMEOUT_S = 160
TABLES_SF = 0.01
WORKLOADS = ("hfp", "batch")
# round-bound (iterative drivers) then scan-bound (per-row kernels)
ROUND_QUERIES = ("docs_dedup_groups",)
SCAN_QUERIES = ("text_bpe_apply", "dedup_ttl_chain")
BATCH_QUERIES = ROUND_QUERIES + SCAN_QUERIES
SELF_LAYERS = ("workload", "pass", "query", "catalyst", "job", "stage", "trigger",
               "trigger_phase", "generator")
# values kept in the result file but not reported as metrics
INTERNAL = {"trace.orphan_spans"}
# per-layer metrics that do not exist on a workload; reported as 0 there
NOT_APPLICABLE = {
    "batch": ("sources.", "streaming.", "sinks."),
    # a streaming query's last execution is usually a no-data batch, whose
    # plan has lost the source path, so hfp reads no plan shape
    "hfp": tuple("jobs.%s" % q for q in BATCH_QUERIES) + ("plans.",),
}


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def not_applicable(workload, name):
    return any(name == p or (p.endswith(".") and name.startswith(p))
               for p in NOT_APPLICABLE[workload])


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # an exported checkout; source_sha identifies it
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:SoftRefLRUPolicyMSPerMB=0",
            "-Djava.io.tmpdir=" + tmp]
           + build.java_opens()
           + ["-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"), "perfbench.Main"])
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail + "\n")
        raise SystemExit("perfbench: JVM exited with %s (log: %s)" % (rc, log_path))


def oracle_compare(tables, verify_dir):
    """graft's DuckDB oracle gate (tools/check.py) on the cold pass's
    results; returns its FAIL lines."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(tables, verify_dir)
    return [l for l in buf.getvalue().splitlines() if l.startswith("FAIL")]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    e2e, layers = declared()
    classes = build.build()

    work = os.path.join(ROOT, ".bench_work", "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tables = os.path.join(work, "tables")
    # batch set-up generates its inputs three times (the median counts);
    # hfp needs the tables only for the probe
    gen_s = []
    for _ in range(3 if a.workload == "batch" else 1):
        g0 = time.time()
        rows = gen.write_tables(tables, a.seed, TABLES_SF)
        gen_s.append(time.time() - g0)

    launch_ms = time.time() * 1000.0
    run_jvm(classes, work, {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "work": work, "tables": tables, "cores": CORES, "queries": ",".join(BATCH_QUERIES)})
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    m = dict(res["metrics"])
    failed, attempted, notes = res["failed"], res["attempted"], list(res["notes"])

    setup = res["setup"]
    if a.workload == "batch":
        setup["rep_s"] = gen_s
    setup_s = ((res["session_ready_ms"] - launch_ms) / 1000.0
               + statistics.median(setup["rep_s"]) + setup["once_s"])
    if a.workload == "batch":
        fails = oracle_compare(tables, os.path.join(work, "verify"))
        failed += len(fails)
        notes += fails
    m["setup_s"] = setup_s

    if a.trace:
        spans = trace.load(os.path.join(work, "spans.jsonl"))
        passes = max(1, setup.get("timed_passes", 1))
        for layer, ms in trace.self_times(spans).items():
            m["trace.self_ms.%s" % layer] = ms / passes
        for layer in SELF_LAYERS:
            m.setdefault("trace.self_ms.%s" % layer, 0.0)
        m["trace.orphan_spans"] = len(trace.orphans(spans))

    undeclared = sorted(set(m) - set(e2e) - set(layers) - INTERNAL)
    if undeclared:
        raise SystemExit("perfbench: undeclared metrics %s" % undeclared)
    units = layers if a.trace else e2e
    metrics = {}
    for name, unit in units.items():
        if name in m:
            metrics[name] = {"value": m[name], "unit": unit}
        elif a.trace and not_applicable(a.workload, name):
            metrics[name] = {"value": 0, "unit": unit}
        else:
            raise SystemExit("perfbench: %s produced no %s" % (a.workload, name))

    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "source_sha": build.source_sha(), "nproc": os.cpu_count(),
        "local": res["provenance"]["local"], "heap": HEAP,
        "spark_version": res["provenance"]["spark_version"],
        "bench_confs": res["provenance"]["bench_confs"],
        "own_confs": res["provenance"]["own_confs"],
        "probe": {k: v for k, v in res["metrics"].items() if k.startswith("probe.")},
        "tables_sf": TABLES_SF, "table_rows": rows, "table_gen_s": gen_s,
        "batch_queries": list(BATCH_QUERIES) if a.workload == "batch" else [],
        "setup": setup, "notes": notes, "wall_s": time.time() - t_start,
    }
    out = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
           "metrics": metrics}
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump({"provenance": provenance, "result": out, "all_metrics": m}, f, indent=1,
                  sort_keys=True)
    for n in notes[:20]:
        sys.stderr.write("perfbench: %s\n" % n)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

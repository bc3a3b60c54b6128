#!/usr/bin/env python3
"""perfbench: caller-facing latency of the graft engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Workloads: olap, pipeline, kv (see perfbench/METRICS.md).
--trace 0 prints the end-to-end metrics; --trace 1 runs the same loop with
every other round traced and prints the per-layer metrics. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is non-zero on any wrong result or failed op.

The first run builds the engine and the harness with sbt (the build is
reused while the sources are unchanged). olap and pipeline read the sf0.1
tables in perfbench/data/sf0.1 in a round order shuffled by --seed; kv
generates its entities from --seed. Everything the run writes stays under
.perfbench/ in the repository root.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(STATE, "build")
RUN = os.path.join(STATE, "run")
DATA = os.path.join(HERE, "data", "sf0.1")

sys.path.insert(0, HERE)
import oracle  # noqa: E402

WORKLOADS = ("olap", "pipeline", "kv")
DEFAULT_SEED = 1
HELD_OUT_SEED = 7919
RUN_LIMIT_S = 170

# JDK 17 needs these when a SparkSession starts outside spark-submit; without
# them DATE results fail to decode (the same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def heap_size():
    """Heap size by the tier-1 rule: half of MemTotal in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = source_stamp()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.isfile(repos) else ""))
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(want)
    return cp[-1]


# ---- the JVM run -----------------------------------------------------------

def run_jvm(classpath, args, deadline):
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(RUN, "raw.json")
    cmd = ["java", f"-Xmx{heap_size()}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(RUN, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(RUN, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()), "--data", DATA,
        "--work", RUN, "--out", out,
    ]
    with open(os.path.join(RUN, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=RUN, stdout=logf, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(RUN, "jvm.log")) as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


# ---- statistics ------------------------------------------------------------

def pct(xs, p):
    """Linear-interpolated percentile (p in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_pct(n):
    """Highest of p90/p95/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for p in (90, 95, 99, 99.9):
        if n * (100 - p) / 100.0 >= 10:
            best = p
    return best


def med(xs):
    return statistics.median(xs) if xs else float("nan")


# ---- metrics ---------------------------------------------------------------

def round_s(ops, n_rounds):
    """A round built from per-op medians: for each op name, its median
    latency times how often it runs per round. Unlike the median of round
    sums, one slow op does not move it."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    return sum(med(xs) * len(xs) / n_rounds for xs in by_name.values()) / 1e3


def op_p50(ops):
    """Median op latency over per-op medians: each op name's median, weighted
    by how often it runs. Sampling noise in a few runs of one op name does
    not move it, unlike the median over all samples."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    meds = sorted((med(xs), len(xs)) for xs in by_name.values())
    half, acc = sum(n for _, n in meds) / 2.0, 0
    for m, n in meds:
        acc += n
        if acc >= half:
            return m


def end_to_end(raw, report):
    ops = raw["ops"]
    lat = [o["ms"] for o in ops]
    rounds = [r["s"] for r in raw["rounds"]]
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "round_s": (round_s(ops, len(rounds)), "s"),
        "op_p50_ms": (op_p50(ops), "ms"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }
    report(f"ops {len(lat)} in {len(rounds)} rounds; timed phase {raw['elapsed_s']:.2f} s")
    tp = tail_pct(len(lat)) or 90
    extra = {
        f"op_p{tp}_ms": (pct(lat, tp), "ms"),
        "ops_per_s": (len(lat) / (sum(lat) / 1e3), "1/s"),
    }
    report(f"op latency p50 {pct(lat, 50):.3f} ms, p{tp} {pct(lat, tp):.3f} ms (n={len(lat)})")
    if raw["workload"] == "kv":
        gets = [o["ms"] for o in ops if o["kind"] == "get"]
        writes = [o for o in ops if o["kind"] == "write"]
        tp = tail_pct(len(gets))
        kv = raw["kv"]
        extra.update({
            "get_p50_ms": (pct(gets, 50), "ms"),
            f"get_p{tp or 99}_ms": (pct(gets, tp or 99), "ms"),
            "write_rows_per_s": (sum(o["rows"] for o in writes)
                                 / (sum(o["ms"] for o in writes) / 1e3), "1/s"),
            "store_bytes_per_user_byte": (kv["store_bytes_per_user_byte"][-1], "ratio"),
        })
        report(f"gets {len(gets)} (misses {kv['misses']}), writes {len(writes)}, "
               f"entities {kv['entities']}")
    return m, extra


def duckdb_ratio(raw, con, report):
    """Geomean over the B-set of engine median / DuckDB median, same box."""
    sql = dict(raw["oracle_sql"])
    eng = {}
    for o in raw["ops"]:
        eng.setdefault(o["name"], []).append(o["ms"])
    ratios = []
    for q in oracle.BSET:
        ms = oracle.time_query(con, sql[q])
        r = med(eng[q]) / ms
        ratios.append(r)
        report(f"duckdb {q}: engine {med(eng[q]):.2f} ms / duckdb {ms:.2f} ms = {r:.2f}")
    return math.exp(sum(math.log(r) for r in ratios) / len(ratios))


def per_layer(raw, report):
    L = raw["layers"]
    ops = [o for o in raw["ops"] if o["traced"]]
    n_rounds = max(1, L["traced_rounds"])
    rs_traced = med(L["round_s_traced"])
    rs_plain = med(L["round_s_untraced"])
    self_ms = dict(L["self_ms"] or {})
    total_self = sum(self_ms.values()) or 1.0
    per_op = L["per_op"]
    gets = [p for p in per_op if p["kind"] == "get"]
    queries = [o for o in ops if o["kind"] == "query"]
    decl = dict(L["declarative_forms"])
    layout_forms = set(L["layout_forms"])
    slot = [run_ms / (s * 1e3 * raw["cores"])
            for run_ms, s in zip(L["executor_run_ms"], L["round_s_traced"]) if s > 0]
    n_ops = max(1, len(ops))
    parts = dict(raw["setup_parts_ms"])
    probe_forms = raw.get("staged_probe", {}).get("forms", [])
    kv_ms = L["kv_ms"] or {}
    m = {
        "session.build_ms": (parts["session.build"], "ms"),
        "tables.probe_ms": (parts.get("tables.probe", 0.0), "ms"),
        "tables.load_ms": (parts.get("tables.load", 0.0), "ms"),
        "plan.analysis_ms": (sum(L["plan_analysis_ms"]) / n_ops, "ms"),
        "plan.optimizer_ms": (sum(L["plan_optimizer_ms"]) / n_ops, "ms"),
        "plan.planning_ms": (sum(L["plan_planning_ms"]) / n_ops, "ms"),
        "spark.jobs": (med(L["jobs"]), "count"),
        "spark.stages": (med(L["stages"]), "count"),
        "spark.tasks": (med(L["tasks"]), "count"),
        "spark.shuffle_write_bytes": (med(L["shuffle_write_bytes"]), "bytes"),
        "spark.shuffle_read_bytes": (med(L["shuffle_read_bytes"]), "bytes"),
        "spark.spill_bytes": (med(L["spill_bytes"]), "bytes"),
        "spark.input_bytes": (med(L["input_bytes"]), "bytes"),
        "spark.output_bytes": (med(L["output_bytes"]), "bytes"),
        "spark.result_bytes": (med(L["result_bytes"]), "bytes"),
        "spark.executor_run_ms": (med(L["executor_run_ms"]), "ms"),
        "spark.executor_cpu_ms": (med(L["executor_cpu_ms"]), "ms"),
        "spark.scheduler_delay_ms": (med(L["scheduler_delay_ms"]), "ms"),
        "spark.gc_ms": (med(L["spark_gc_ms"]), "ms"),
        "spark.slot_busy_ratio": (med(slot), "ratio"),
        "driver.collect_ms": (sum(L["collect_ms"]) / n_rounds, "ms"),
        "driver.rows": (sum(o["rows"] for o in ops) / n_rounds, "count"),
        "jvm.gc_ms": (raw["jvm_gc_ms_timed"] / max(1, len(raw["rounds"])), "ms"),
        "jvm.heap_after_gc_mb": (raw["retained_heap_mb"], "MB"),
        "exec.valid_ms": (sum(raw["exec_valid_ms"]) / n_ops, "ms"),
        "exec.run_ms": (sum(L["exec_run_ms"]) / n_rounds, "ms"),
        "exec.declarative_share": (
            sum(o["form"] == decl.get(o["name"]) for o in queries) / len(queries)
            if queries and raw["workload"] == "olap" else 0.0, "ratio"),
        "layouts.stage_ms": (parts.get("layouts.stage", 0.0), "ms"),
        "layouts.staged_answer_share": (
            sum(f in layout_forms for f in probe_forms) / len(probe_forms)
            if probe_forms else 0.0, "ratio"),
        "kv.get_input_bytes": (med([p["input_bytes"] for p in gets]) if gets else 0.0, "bytes"),
        "kv.get_tasks": (med([p["tasks"] for p in gets]) if gets else 0.0, "count"),
        "kv.files_per_version": (
            med(raw["kv"]["files_per_version"]) if raw["workload"] == "kv" else 0.0, "count"),
    }
    for name in KV_CALLS:
        xs = kv_ms.get(f"Stash.{name}", [])
        m[f"kv.{name}_ms"] = (med(xs) if xs else 0.0, "ms")
    for q in PIPELINE_JOBS:
        xs = [o["ms"] for o in ops if o["name"] == q]
        js = [p["jobs"] for p in per_op if p["name"] == q]
        short = q.split("_")[0]
        m[f"pipeline.{short}.ms"] = (med(xs) if xs else 0.0, "ms")
        m[f"pipeline.{short}.jobs"] = (med(js) if js else 0.0, "count")
    for layer in LAYERS:
        m[f"self_share.{layer}"] = (self_ms.get(layer, 0.0) / total_self, "ratio")
    m["trace.round_overhead"] = (rs_traced / rs_plain - 1.0, "ratio")
    m["counters.steady"] = (0.0 if L["unsteady_counters"] else 1.0, "count")

    # set-up parts and per-round self times: printed, not in the JSON
    shown = [(k + "_ms", v, "ms") for k, v in parts.items() if k not in SETUP_IN_JSON]
    if gets:
        shown.append(("kv.get_ms", med(kv_ms.get("Stash.get", [])), "ms"))
    for layer, v in sorted(self_ms.items()):
        shown.append((f"self_ms.{layer}", v / n_rounds, "ms"))
    if "staged_probe" in raw:
        shown.append(("layouts.staged_round_s", raw["staged_probe"]["round_s"], "s"))
    for k, v, u in shown:
        report(f"layer {k} {v:.6g} {u}")
    report(f"tracing overhead: traced round {rs_traced:.4f} s vs untraced "
           f"{rs_plain:.4f} s ({(rs_traced / rs_plain - 1) * 100:+.1f}%)")
    report("counter steadiness (jobs, stages, tasks, shuffle write per op across rounds): "
           + ("steady" if not L["unsteady_counters"]
              else "varies for " + ", ".join(L["unsteady_counters"])))
    return m


LAYERS = ("op", "exec", "pipeline", "kv", "collect", "spark")
KV_CALLS = ("addAll", "remove", "save", "open")
# the pipeline workload's jobs (perfbench.Main.PipelineQueries)
PIPELINE_JOBS = ("q81_curation_funnel", "q48_incremental_neardup", "q88_ann_ivfadc",
                 "q90_lr_quality", "q83_codec_roundtrip")
SETUP_IN_JSON = ("session.build", "tables.probe", "tables.load", "layouts.stage")


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"input seed (default {DEFAULT_SEED}; recheck claims on the "
                         f"held-out seed {HELD_OUT_SEED})")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources at {ROOT} (build.sbt, src/main/scala); "
            "run from a full checkout")
        return 2

    # a killed run leaks nothing into the next one
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(RUN)
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S - 20
    raw = run_jvm(classpath, args, deadline)
    log(f"engine run done at {time.time() - start:.1f} s")

    lines = []

    def report(s):
        lines.append(s)
        print(s, flush=True)

    probe = raw.get("staged_probe", {})
    failed = sum(not o["ok"] for o in raw["ops"]) + raw["setup_failed"] + probe.get("failed", 0)
    attempted = len(raw["ops"]) + raw["setup_checks"] + probe.get("checks", 0)
    for f in raw["failures"][:20]:
        report(f"FAIL {f}")
    con = None
    if args.workload == "olap":
        con = oracle.connect(DATA, cores())
        bad = oracle.compare(con, os.path.join(RUN, "results"), dict(raw["oracle_sql"]), report)
        attempted += len(raw["oracle_sql"])
        failed += bad
        log(f"oracle check done at {time.time() - start:.1f} s")

    if args.trace == 0:
        metrics, extra = end_to_end(raw, report)
        if args.workload == "olap":
            extra["duckdb_ratio_geo"] = (duckdb_ratio(raw, con, report), "ratio")
        extra["fail_ratio"] = (failed / attempted, "ratio")
    else:
        metrics, extra = per_layer(raw, report), {}
    for k, (v, u) in list(metrics.items()) + list(extra.items()):
        report(f"metric {k} {v:.6g} {u}")

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(STATE, "results", tag + ".json"), "w") as f:
        json.dump({"raw": raw, "report": lines}, f)
    if args.trace:
        shutil.copy(os.path.join(RUN, "trace", "spans.jsonl"),
                    os.path.join(STATE, "results", tag + ".spans.jsonl"))
    shutil.rmtree(RUN, ignore_errors=True)
    log(f"done in {time.time() - start:.1f} s")

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh engine JVM.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds the engine and the harness from
source once (cached by a hash of the sources), generates the seeded
inputs once per (seed, size), runs the harness JVM, checks the outputs
(DuckDB oracle twins, index bookkeeping), and prints every metric by
name with its unit and sample count. The last stdout line is a compact
JSON summary; the per-operation and per-layer detail goes to
``.bench_build/results/``. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# workload -> (input family, size); see gen.py for the families
WORKLOADS = {
    "query_mix": ("sf", 1000),       # sf0.1 row counts
    "curation_scale": ("corpus", 4000),
    "stream_ingest": ("sf", 200),    # 20k events, 1k documents
    "index_churn": ("corpus", 4000),
    # not gated: every query_mix candidate once, to profile them
    "query_profile": ("sf", 1000),
}
# the dataflow whose foreachBatch body is one SignatureIndex gate call:
# its per-trigger addBatch time is that call's latency
GATE_DATAFLOW = "stream_ingest_gate"
XMX = "4g"
JVM_TIMEOUT_S = {"query_profile": 900}  # others: 150


def task_threads(cpus):
    """Spark task threads (local[n], and as many shuffle partitions):
    half the CPUs, so the driver thread, the JIT compilers and GC run
    beside the tasks instead of preempting them (perfbench/README.md,
    "Steadiness")."""
    return max(1, cpus // 2)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile engine + harness with sbt (offline) unless the sources
    are unchanged since the last build; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_hash()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == digest:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=fh, text=True, timeout=800)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


# ---- run ------------------------------------------------------------------

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cpu_jiffies():
    """(steal, total) jiffies over all CPUs from /proc/stat: the share
    of time a co-tenant took from this VM, the noisy-host stamp."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def run_jvm(cp, workload, data, out, seconds, trace, threads):
    tmp = os.path.join(out, "tmp")
    local = os.path.join(out, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_ONLY")}
    env["SPARK_LOCAL_DIRS"] = local
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}", "-Djava.awt.headless=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            workload, data, out, str(seconds), str(trace), str(threads)]
    limit = JVM_TIMEOUT_S.get(workload, 150)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "killed after %d s" % limit
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res):
        kept = os.path.join(BUILD, "failed_jvm.log")
        shutil.copy(os.path.join(out, "jvm.log"), kept)
        fail(f"engine JVM exited {rc} without a result; see {kept}")
    return json.load(open(res))


# ---- correctness ----------------------------------------------------------

def oracle_check(data, out, names):
    """Compare each written output against its DuckDB twin with
    scripts/check.py's rules (name-sorted columns, sorted rows, exact
    string compare with a float tolerance fallback)."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check  # noqa: E402  (the repo's own comparison rules)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    results, duck_s = [], 0.0
    for name in names:
        if name not in oracle:
            results.append((f"oracle:{name}", False, "no oracle twin"))
            continue
        try:
            got = check.canon(pd.read_parquet(os.path.join(out, "outputs", name)))
        except Exception as e:  # a failed operation leaves no output
            results.append((f"oracle:{name}", False, f"no output: {e}"))
            continue
        t0 = time.perf_counter()
        exp = check.canon(con.execute(oracle[name]).df())
        duck_s += time.perf_counter() - t0
        ok, why = list(got.columns) == list(exp.columns), "columns differ"
        if ok:
            ok, why = len(got) == len(exp), f"rows spark={len(got)} duck={len(exp)}"
        if ok:
            for c in got.columns:
                bad = [i for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                       if str(g) != str(e) and not check.values_equal(g, e)]
                if bad:
                    ok, why = False, f"col {c} row {bad[0]} differs"
                    break
        results.append((f"oracle:{name}", ok, "" if ok else why))
    return results, duck_s


# ---- metrics --------------------------------------------------------------

def high_pct(vals, want=90):
    """(percentile, value): the highest percentile <= `want` with at
    least ten samples beyond it (floor: the median), nearest-rank."""
    n = len(vals)
    q = max(50, min(want, int(math.floor(100 * (1 - 10 / n))) if n else 50))
    if q == 50:
        return q, median(vals)
    s = sorted(vals)
    return q, s[math.ceil(q / 100 * n) - 1]


def median(vals):
    return statistics.median(vals) if vals else 0.0


def metrics(r):
    """End-to-end metrics from the raw samples. Returns
    {name: (value, unit, n, note)} for every metric this workload
    reports, the generic op_* metrics included."""
    w, wall = r["workload"], r["wall_s"]
    samples = r["samples"]
    setup = r["session_s"] + median(r["prepare_s"]) + r["warmup_s"]
    m = {"setup_s": (setup, "s", len(r["prepare_s"]),
                     "session start + median artifact build + warm-up passes"),
         "peak_rss_mb": (r["peak_rss_mb"], "MB", 1, "engine JVM VmHWM")}

    def timing(name, vals, unit="ms", with_p90=True):
        m[f"{name}_p50_{unit}"] = (median(vals), unit, len(vals), "")
        if with_p90:
            q, v = high_pct(vals)
            m[f"{name}_p90_{unit}"] = (v, unit, len(vals), f"reported at p{q}")

    if w in ("query_mix", "query_profile", "curation_scale"):
        ops = [s[2] for s in samples if s[1] == "query"]
        timing("query", ops, with_p90=(w != "curation_scale"))
        if w != "curation_scale":
            m["queries_per_s"] = (len(ops) / wall, "1/s", len(ops), "")
        else:
            docs = WORKLOADS[w][1]
            m["docs_per_s"] = (docs * len(ops) / wall, "1/s", len(ops),
                               f"corpus of {docs} docs")
    elif w == "stream_ingest":
        ops = [t[1] for t in r["triggers"]]
        rows = sum(t[2] for t in r["triggers"])
        timing("trigger", ops)
        per = rows / max(1, sum(1 for t in r["triggers"] if t[2] > 0))
        m["rows_per_s"] = (rows / wall, "1/s", len(ops),
                           f"{per:.0f} rows per data trigger")
    else:
        ops = [s[2] for s in samples]
        timing("mutation", [s[2] for s in samples if s[1] == "mutation"])
        timing("read", [s[2] for s in samples if s[1] == "read"])
    m["op_p50_ms"] = (median(ops), "ms", len(ops), "the workload's unit operation")
    # the mean as well as the median: a run's samples come from several
    # operations, and the median lands on whichever sits in the middle
    m["op_mean_ms"] = (statistics.fmean(ops) if ops else 0.0, "ms", len(ops), "")
    m["ops_per_s"] = (len(ops) / wall, "1/s", len(ops), "")
    # what an operation costs in core time: the engine JVM's CPU time
    # (all threads: driver, tasks, JIT compilers, GC) over the timed
    # region, per operation
    m["op_cpu_ms"] = (sum(p[3] for p in r["pass_stats"]) / max(1, len(ops)), "ms", len(ops),
                      "engine CPU time / operations")
    return m


def layers(r, threads):
    """Per-layer metrics of a traced run, aggregated over its timed
    operations (counts and byte totals per operation unless named
    otherwise)."""
    t = r["trace"]
    ops = t["ops"]
    n = max(1, len(ops))
    tot = lambda k, xs=ops: sum(o[k] for o in xs)
    qs = [o for o in ops if o["kind"] == "query"]
    streams = [o for o in ops if o["triggers"] > 0]
    trig = max(1, tot("triggers", streams))
    by = lambda *fns: [o for o in ops if o["name"] in fns]
    ms = {s[0]: [] for s in r["samples"]}
    for s in r["samples"]:
        ms[s[0]].append(s[2])
    stats = r["stats"]
    appends = by("gateAndAppendBatch", "gateAndAppendAnnBatch")
    reads = by("gateBatchThroughIndex", "probeAnnIndex")
    durs = lambda k: median([d for o in streams for d in o["durations"].get(k, [])])
    gate_flow_ms = [d for o in streams if o["name"] == GATE_DATAFLOW
                    for d in o["durations"].get("addBatch", [])]
    L = {
        "queries.build_ms": median([o["notes"].get("build_ms", 0.0) for o in qs]),
        "queries.eager_jobs": tot("build_jobs", qs) / max(1, len(qs)),
        "plans.analysis_ms": median([o["analysis_ms"] for o in qs]),
        "plans.optimization_ms": median([o["optimization_ms"] for o in qs]),
        "plans.planning_ms": median([o["planning_ms"] for o in qs]),
        "plans.exchanges": tot("exchanges", qs) / max(1, len(qs)),
        "plans.range_exchanges": tot("range_exchanges", qs) / max(1, len(qs)),
        "exec.jobs": tot("jobs") / n,
        "exec.stages": tot("stages") / n,
        "exec.tasks": tot("tasks") / n,
        "exec.empty_task_frac": tot("empty_tasks") / max(1, tot("tasks")),
        "exec.task_cpu_ms": tot("task_cpu_ns") / 1e6 / n,
        "exec.task_run_ms": tot("task_run_ms") / n,
        "exec.busy_frac": tot("task_run_ms") / (r["wall_s"] * 1000 * threads),
        "exec.shuffle_write_bytes": tot("shuffle_write") / n,
        "exec.shuffle_read_bytes": tot("shuffle_read") / n,
        "exec.spill_bytes": tot("spill") / n,
        "exec.input_bytes": tot("input") / n,
        "exec.gc_ms": tot("gc_ms") / n,
        # generated classes compiled (Janino) per timed operation
        "exec.codegen_compiles": sum(p[2] for p in r["pass_stats"]) / n,
        "exec.peak_exec_mem_bytes": max([o["peak_exec_mem"] for o in ops] or [0]),
        "exec.failed_tasks": tot("failed_tasks"),
        "streaming.triggers": tot("triggers", streams),
        "streaming.input_rows": tot("input_rows", streams),
        "streaming.jobs_per_trigger": tot("jobs", streams) / trig,
        "streaming.addBatch_ms": durs("addBatch"),
        "streaming.queryPlanning_ms": durs("queryPlanning"),
        "streaming.walCommit_ms": durs("walCommit"),
        "streaming.commitOffsets_ms": durs("commitOffsets"),
        "streaming.latestOffset_ms": durs("latestOffset"),
        "streaming.getBatch_ms": durs("getBatch"),
        "streaming.state_rows_peak": max([o["state_rows_peak"] for o in ops] or [0]),
        "streaming.state_mem_bytes_peak": max([o["state_mem_peak"] for o in ops] or [0]),
        "streaming.state_commit_ms": tot("state_commit_ms", streams) / trig,
        "streaming.rows_dropped_by_watermark": tot("dropped_by_watermark", streams),
        "index.append_ms": median(ms.get("gateAndAppendBatch", []) + ms.get("gateAndAppendAnnBatch", [])),
        "index.delete_ms": median(ms.get("deleteFromIndex", []) + ms.get("deleteFromAnnIndex", [])),
        "index.maintain_ms": median(ms.get("maintainIndex", []) + ms.get("maintainAnnIndex", [])),
        "index.jobs_per_append": tot("jobs", appends) / max(1, len(appends)),
        "index.compactions": stats.get("compactions", 0.0),
        "index.rebuilds": stats.get("rebuilds", 0.0),
        "index.bytes_written_per_row": sum(o["notes"].get("bytes_written", 0.0) for o in ops)
                                       / max(1.0, stats.get("appended_rows", 0.0)),
        "index.probe_ms": median(ms.get("probeAnnIndex", [])),
        "index.gate_ms": median(ms.get("gateBatchThroughIndex", []) + gate_flow_ms),
        "index.jobs_per_probe": tot("jobs", reads) / max(1, len(reads)),
        "index.probe_input_bytes": median([o["input"] / o["notes"]["index_bytes"]
                                           for o in reads if o["notes"].get("index_bytes")]),
        "index.files": stats.get("index_files", 0.0),
        "index.bytes_per_live_row": stats.get("index_bytes", 0.0) / max(1.0, stats.get("live_rows", 0.0)),
    }
    per_flow = {}
    for o in streams:
        f = per_flow.setdefault(o["name"], {"state_rows_peak": 0, "triggers": 0})
        f["state_rows_peak"] = max(f["state_rows_peak"], o["state_rows_peak"])
        f["triggers"] += o["triggers"]
    return L, per_flow


def tracing_overhead(workload, stamp, metric):
    """[(seed, traced / untraced metric - 1)] over the seeds with both a
    traced and an untraced result of this workload in
    .bench_build/results whose commit, sources and cpus match `stamp`."""
    res = os.path.join(BUILD, "results")
    pairs = []
    for f in sorted(os.listdir(res)):
        if not (f.startswith(workload + "_s") and f.endswith("_t1.json")):
            continue
        t0_path = os.path.join(res, f[:-len("_t1.json")] + "_t0.json")
        if not os.path.isfile(t0_path):
            continue
        t1, t0 = json.load(open(os.path.join(res, f))), json.load(open(t0_path))
        if any({k: d.get(k) for k in stamp} != stamp for d in (t0, t1)):
            continue
        base = t0["metrics"].get(metric, {}).get("value")
        if base:
            pairs.append((t1["seed"], t1["metrics"][metric]["value"] / base - 1))
    return pairs


def print_profile(r):
    """Per query of a traced query_profile run: its timed latency, the
    jobs its builder ran (eager jobs), all its jobs, and the bytes it
    read -- the profile query_mix's selection is drawn from."""
    ms = {}
    for s in r["samples"]:
        ms.setdefault(s[0], []).append(s[2])
    print(f"  {'query':<24} {'ms':>9} {'eager_jobs':>10} {'jobs':>5} {'input_bytes':>12}")
    for o in r["trace"]["ops"]:
        print(f"  {o['name']:<24} {median(ms.get(o['name'], [])):>9.1f} "
              f"{o['build_jobs']:>10} {o['jobs']:>5} {o['input']:>12}")


def unit_of(name):
    if name == "index.probe_input_bytes":  # bytes scanned per index byte
        return "ratio"
    for suf, u in (("_ms", "ms"), ("_bytes", "bytes"), ("_bytes_peak", "bytes"),
                   ("_frac", "ratio"), ("_row", "bytes/row")):
        if name.endswith(suf):
            return u
    return "count"


# ---- main -----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "scripts/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")

    cp = classpath()
    sys.path.insert(0, HERE)
    import gen
    family, size = WORKLOADS[a.workload]
    t0 = time.perf_counter()
    data = gen.ensure(os.path.join(BUILD, "data"), family, a.seed, size)
    gen_s = time.perf_counter() - t0

    cpus = len(os.sched_getaffinity(0))
    threads = task_threads(cpus)
    tag = f"{a.workload}_s{a.seed}_t{a.trace}"
    out = os.path.join(BUILD, "runs", f"{tag}_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    try:
        st0 = cpu_jiffies()
        t0 = time.perf_counter()
        r = run_jvm(cp, a.workload, data, out, a.seconds, a.trace, threads)
        jvm_s = time.perf_counter() - t0
        st1 = cpu_jiffies()
        steal = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
        checks = [tuple(c) for c in r["checks"]]
        t0 = time.perf_counter()
        oracle, duck_s = oracle_check(data, out, r["outputs"])
        check_s = time.perf_counter() - t0
        checks += oracle
        spans = os.path.join(out, "spans.json")
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(results, f"{tag}.spans.json"))
    finally:
        shutil.rmtree(out, ignore_errors=True)

    m = metrics(r)
    failed_ops = sum(1 for s in r["samples"] if not s[3])
    failed_checks = sum(1 for c in checks if not c[1])
    attempted = len(r["samples"]) + len(checks)
    failed = failed_ops + failed_checks
    m["failed_frac"] = (failed / attempted, "ratio", attempted,
                        f"{failed_ops} ops threw, {failed_checks} checks failed")
    # a checkout without git history is stamped with its source digest
    commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                            capture_output=True).stdout.strip() \
        if os.path.isdir(os.path.join(ROOT, ".git")) else ""
    sources = source_hash()[:12]
    commit = commit or "src-" + sources

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cpus={cpus} threads={threads} "
          f"commit={commit} calibration_ms={r['calibration_ms'][0]:.0f}->"
          f"{r['calibration_ms'][1]:.0f} passes={r['passes']} wall_s={r['wall_s']:.2f} "
          f"timed_gc_ms={r['timed_gc_ms']} timed_jit_ms={r['timed_jit_ms']} "
          f"codegen_compiles={sum(p[2] for p in r['pass_stats'])} "
          f"steal={100 * steal:.1f}% gen_s={gen_s:.2f} jvm_s={jvm_s:.2f} "
          f"check_s={check_s:.2f} duckdb_s={duck_s:.2f}")
    for k, (v, unit, n, note) in m.items():
        print(f"  {k:<16} {v:>14.4f} {unit:<5} n={n}" + (f"  ({note})" if note else ""))
    for name, ok, why in checks:
        if not ok:
            print(f"  FAILED {name}: {why}")
    for e in r["errors"]:
        print(f"  ERROR {e}")

    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus,
              "threads": threads, "sources": sources,
              "commit": commit, "calibration_ms": r["calibration_ms"], "steal_frac": steal,
              "timed_gc_ms": r["timed_gc_ms"], "timed_jit_ms": r["timed_jit_ms"],
              "inputs": {"family": family, "size": size, "gen_s": gen_s},
              "jvm_s": jvm_s, "check_s": check_s, "duckdb_s": duck_s,
              "session_s": r["session_s"], "prepare_s": r["prepare_s"],
              "warmup_s": r["warmup_s"], "wall_s": r["wall_s"],
              "passes": r["passes"], "pass_stats": r["pass_stats"],
              "metrics": {k: {"value": v, "unit": u, "n": n, "note": note}
                          for k, (v, u, n, note) in m.items()},
              "checks": checks, "errors": r["errors"], "samples": r["samples"],
              "triggers": r["triggers"], "stats": r["stats"]}
    # the compact last line carries the metrics BENCHMARK.json lists
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    summary = {e["name"]: (m[e["name"]][0], e["unit"]) for e in spec["end_to_end"]}
    if a.trace:
        L, per_flow = layers(r, threads)
        for k, v in L.items():
            print(f"  {k:<34} {v:>16.4f} {unit_of(k)}")
        for f, d in sorted(per_flow.items()):
            print(f"  dataflow {f}: state_rows_peak={d['state_rows_peak']} "
                  f"triggers={d['triggers']}")
        detail["layers"] = L
        detail["dataflows"] = per_flow
        detail["trace_ops"] = r["trace"]["ops"]
        if a.workload == "query_profile":
            print_profile(r)
        summary = {e["name"]: (L[e["name"]], e["unit"]) for e in spec["per_layer"]}
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if a.trace:
        for metric in ("op_mean_ms", "op_cpu_ms"):
            pairs = tracing_overhead(
                a.workload, {"commit": commit, "sources": sources, "cpus": cpus}, metric)
            if not pairs:
                print(f"  tracing overhead on {metric}: no untraced run of this "
                      "workload, commit, sources and cpus in .bench_build/results")
                continue
            this = dict(pairs).get(a.seed)
            print(f"  tracing overhead on {metric}: median "
                  f"{100 * median([o for _, o in pairs]):+.1f}% over {len(pairs)} "
                  f"traced/untraced pairs of this commit, sources and cpus"
                  + (f" (this seed: {100 * this:+.1f}%)" if this is not None else ""))

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in summary.items()}},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Layer benchmark of the engine: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt depends on the root build); later
runs reuse the build while the sources are unchanged. Inputs are
generated (perfbench/gen.py): stream-replay's from the seed,
sf01-lightcurve's as one fixed data set whose query order the seed
permutes. They are cached under ``.bench_build/``, which also holds
logs, result files and traces.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` -- with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics. The
line before it records the run's configuration and host steal. See
perfbench/README.md for the metrics, workloads and the layer map.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

# query lists: the seed permutes their order in every pass
WORKLOADS = {
    "sf01-lightcurve": dict(
        shape="sf", mult=1,
        queries=["t2_phase_bin", "t10_transit_stats", "t13f_mcmc_rv", "t4_sigma_clip"],
        kernels=["search.lombscargle", "search.bls", "search.matched_filter",
                 "ops.detrend", "model.ensemble", "plans.asof"]),
    "stream-replay": dict(
        shape="scale", mult=1,
        queries=["st5_stateful_session", "st7_stream_join"],
        kernels=["ann.ivf", "text.ed1"]),
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("pass_cpu_s", "s"),
              ("query_p50_s", "s"), ("query_p90_s", "s"),
              ("success_ratio", "ratio"), ("peak_rss_mb", "MB")]
KERNELS = ["search.lombscargle", "search.bls", "search.matched_filter", "ops.detrend",
           "model.ensemble", "plans.asof", "ann.ivf", "text.ed1"]
PER_LAYER = (
    [("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
     ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
     ("codegen.compile_s", "s"), ("codegen.compiles", "count"),
     ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.task_cpu_s", "s"),
     ("exec.gc_s", "s"), ("exec.sched_delay_s", "s"), ("exec.busy_ratio", "ratio"),
     ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
     ("exec.shuffle_fetch_wait_s", "s"), ("exec.spill_bytes", "bytes"),
     ("exec.peak_exec_mem_bytes", "bytes"), ("exec.input_rows", "count"),
     ("exec.task_success_ratio", "ratio"),
     ("streaming.batches", "count"), ("streaming.trigger_ms", "ms"),
     ("streaming.events_per_s", "1/s"),
     ("streaming.batch_p50_ms", "ms"), ("streaming.batch_p90_ms", "ms"),
     ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
     ("streaming.state_commit_ms", "ms"), ("streaming.state_rows", "count"),
     ("streaming.state_mem_bytes", "bytes"), ("streaming.state_stores", "count"),
     ("streaming.wm_dropped_rows", "count")]
    + [(k + "_s", "s") for k in KERNELS]
    + [("run.failed_ratio", "ratio"), ("run.gen_s", "s"), ("run.jvm_start_s", "s"),
       ("run.session_s", "s"), ("run.check_pass_s", "s"),
       ("host.steal_ratio", "ratio"), ("trace.overhead_ratio", "ratio")])

HEAP_GB = 3
BUILD_DIR = ".bench_build"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp(root):
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("src", "main"), os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties"),
            os.path.join("perfbench", "src")]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile engine + harness once per source state; return the classpath."""
    for need in ["build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")]:
        if not os.path.exists(os.path.join(root, need)):
            fail("%s not found: run from the root of a full checkout" % need)
    bdir = os.path.join(root, BUILD_DIR)
    os.makedirs(bdir, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    logf = os.path.join(bdir, "build.log")
    t0 = time.time()
    with open(logf, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    with open(logf) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        fail("build failed (exit %d), see %s" % (r.returncode, logf))
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return cp


# ------------------------------------------------------------------ host

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def git_head(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------------ run

def run_harness(root, cp, spec, data, out, seed, seconds, trace, fail_query=None):
    cpus = os.cpu_count() or 1
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then moves with the memory the
    # JVM holds outside the heap, not with the collector's sizing choices
    cmd = (["java", "-Xms%dg" % HEAP_GB, "-Xmx%dg" % HEAP_GB, "-XX:+AlwaysPreTouch"]
           + [x for p in JDK_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Harness",
              "--data", data, "--out", out, "--queries", ",".join(spec["queries"]),
              "--kernels", ",".join(spec["kernels"]),
              "--seconds", str(seconds), "--seed", str(seed), "--cpus", str(cpus),
              "--trace", "1" if trace else "0"])
    if fail_query:
        cmd += ["--fail", fail_query]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    logf = os.path.join(out, "harness.log")
    # the engine's streaming arrival fixtures are cached in the system
    # temp dir; remove the ones this run creates
    before = set(os.listdir("/tmp")) if os.path.isdir("/tmp") else set()
    steal0, total0 = cpu_times()
    launch = time.time()
    try:
        with open(logf, "w") as f:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                               stdin=subprocess.DEVNULL, timeout=seconds + 150)
    finally:
        if os.path.isdir("/tmp"):
            for name in set(os.listdir("/tmp")) - before:
                if name.startswith("graft_"):
                    shutil.rmtree(os.path.join("/tmp", name), ignore_errors=True)
    steal1, total1 = cpu_times()
    if r.returncode != 0:
        with open(logf) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("harness exited with %d" % r.returncode)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
    res["launch_s"] = launch
    return res


def pct(xs, q):
    """Percentile q (1..99) of a non-empty list, interpolated between the
    closest ranks; steadier than nearest rank on the few, clustered
    samples one run holds."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check(res, expected, corrupt=None):
    """Mark every execution ok/failed: no error, row count equal to the
    oracle's, and the query's content hash equal to the oracle's."""
    bad_content = set()
    for q, exp in expected.items():
        got = exp.get("got")
        want = exp.get("want")
        if corrupt == q and want is not None:
            want = dict(want, hash="0" * 64)
        if got is None or (want is not None and (want.get("hash") != got["hash"]
                                                 or want.get("cols") != got["cols"])):
            bad_content.add(q)
    out = []
    for e in res["execs"]:
        exp = expected.get(e["query"], {})
        n = (exp.get("want") or exp.get("got") or {}).get("rows")
        ok = e["error"] is None and n is not None and e["rows"] == n \
            and e["query"] not in bad_content
        out.append(ok)
    return out, sorted(bad_content)


def pass_secs(execs, key="secs"):
    """Seconds of each pass: the sum of its executions' latencies (or
    CPU seconds), which leaves out the harness's cleanup between queries."""
    by = {}
    for e in execs:
        by[e["pass"]] = by.get(e["pass"], 0.0) + e[key]
    return [by[p] for p in sorted(by)]


def end_to_end(res, oks):
    untraced = [e for e in res["execs"] if not e["traced"]]
    passes = pass_secs(untraced)
    secs = [e["secs"] for e in untraced]
    return {
        # launch of the JVM to the first timed query: JVM start, session
        # build, table reads and the check pass that warms the loop
        "setup_s": res["timed_start_ms"] / 1e3 - res["launch_s"],
        "pass_s": median(passes),
        "pass_cpu_s": median(pass_secs(untraced, "cpuS")),
        "query_p50_s": pct(secs, 50),
        "query_p90_s": pct(secs, 90),
        "success_ratio": sum(oks) / max(1, len(oks)),
        "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
    }


def self_times(spans):
    """Span duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur0, cur1 = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    covered += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            covered += cur1 - cur0
        out[s["id"]] = (s["end"] - s["start"] - covered) / 1e9
    return out


def family(q):
    """Query family: the letters before the first digit (t13_mcmc_fit -> t)."""
    head = q.split("_")[0]
    return head[:next((i for i, ch in enumerate(head) if ch.isdigit()), len(head))] or head


def layer_tables(res):
    spans = res["spans"]
    selfs = self_times(spans)
    query_of = {e["id"]: e["query"] for e in res["execs"]}
    by_layer, by_query, by_family = {}, {}, {}
    for s in spans:
        q = query_of.get(s["exec"], "?")
        t = selfs[s["id"]]
        by_layer[s["name"]] = by_layer.get(s["name"], 0.0) + t
        by_query.setdefault(q, {})
        by_query[q][s["name"]] = by_query[q].get(s["name"], 0.0) + t
        f = family(q)
        by_family.setdefault(f, {})
        by_family[f][s["name"]] = by_family[f].get(s["name"], 0.0) + t
    return selfs, by_layer, by_query, by_family


def per_layer(res, oks, cpus, gen_s):
    traced = [e for e in res["execs"] if e["traced"]]
    tp = pass_secs(traced)
    up = pass_secs([e for e in res["execs"] if not e["traced"]])
    n = max(1, len(tp))
    cs = list(res["counters"].values())

    def tot(k):
        return sum(c[k] for c in cs)
    tasks = tot("tasks")
    all_passes = max(1, len(res["passes"]))
    b = res["batches"]
    trig = [x["triggerMs"] for x in b] or [0]
    stream_s = sum(e["secs"] for e in res["execs"] if e["query"].startswith("st"))

    def bmed(k):
        return float(median([x[k] for x in b])) if b else 0.0
    m = {
        "queries.construct_s": sum(e["constructS"] for e in traced) / n,
        "queries.construct_jobs": tot("construct_jobs") / n,
        "catalyst.analysis_s": sum(e["analysisMs"] for e in traced) / 1e3 / n,
        "catalyst.optimization_s": sum(e["optimizationMs"] for e in traced) / 1e3 / n,
        "catalyst.planning_s": sum(e["planningMs"] for e in traced) / 1e3 / n,
        "codegen.compile_s": sum(e["codegenNs"] for e in traced) / 1e9 / n,
        "codegen.compiles": sum(e["compiles"] for e in traced) / n,
        "exec.run_s": sum(e["runS"] for e in traced) / n,
        "exec.jobs": tot("jobs") / n,
        "exec.stages": tot("stages") / n,
        "exec.tasks": tasks / n,
        "exec.task_s": tot("task_ms") / 1e3 / n,
        "exec.task_cpu_s": tot("cpu_ns") / 1e9 / n,
        "exec.gc_s": tot("gc_ms") / 1e3 / n,
        "exec.sched_delay_s": tot("sched_ms") / 1e3 / n,
        "exec.busy_ratio": tot("task_ms") / 1e3 / max(1e-9, sum(e["secs"] for e in traced) * cpus),
        "exec.shuffle_write_bytes": tot("shuffle_write") / n,
        "exec.shuffle_read_bytes": tot("shuffle_read") / n,
        "exec.shuffle_fetch_wait_s": tot("fetch_wait_ms") / 1e3 / n,
        "exec.spill_bytes": tot("spill") / n,
        "exec.peak_exec_mem_bytes": max([c["peak_mem"] for c in cs] or [0]),
        "exec.input_rows": tot("input_rows") / n,
        "exec.task_success_ratio": tot("succeeded") / max(1, tasks),
        "streaming.batches": len(b) / all_passes,
        "streaming.trigger_ms": sum(x["triggerMs"] for x in b) / all_passes,
        "streaming.events_per_s": sum(x["inputRows"] for x in b) / max(1e-9, stream_s),
        "streaming.batch_p50_ms": float(pct(trig, 50)),
        "streaming.batch_p90_ms": float(pct(trig, 90)),
        "streaming.add_batch_ms": bmed("addBatchMs"),
        "streaming.wal_commit_ms": bmed("walCommitMs"),
        "streaming.state_commit_ms": bmed("stateCommitMs"),
        "streaming.state_rows": bmed("stateRows"),
        "streaming.state_mem_bytes": bmed("stateMemBytes"),
        "streaming.state_stores": float(max([x["stateStores"] for x in b] or [0])),
        "streaming.wm_dropped_rows": sum(x["droppedRows"] for x in b) / all_passes,
    }
    for k in KERNELS:
        v = res["kernels"].get(k)
        # 0 for a kernel the workload does not call or that failed (logged)
        m[k + "_s"] = v if isinstance(v, (int, float)) and math.isfinite(v) else 0.0
    m["run.failed_ratio"] = 1.0 - sum(oks) / max(1, len(oks))
    m["run.gen_s"] = gen_s
    m["run.jvm_start_s"] = res["main_ms"] / 1e3 - res["launch_s"]
    m["run.session_s"] = res["session_s"]
    m["run.check_pass_s"] = res["check_s"]
    m["host.steal_ratio"] = res["steal_ratio"]
    m["trace.overhead_ratio"] = median(tp) / median(up) if tp and up else 0.0
    return m


def measure(args, spec, data_dir=None, fail_query=None):
    """Build, generate the inputs, run the harness and the oracle."""
    root = os.getcwd()
    cp = build(root)
    bdir = os.path.join(root, BUILD_DIR)
    t0 = time.time()
    if data_dir is None:
        data_dir = gen.build(os.path.join(bdir, "data"), spec["shape"], args.seed, spec["mult"])
    gen_s = time.time() - t0
    out = os.path.join(bdir, "runs", "%s-s%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t1 = time.time()
    res = run_harness(root, cp, spec, data_dir, out, args.seed, args.seconds, args.trace,
                      fail_query)
    t2 = time.time()
    expected = oracle.expected(os.path.join(bdir, "oracle"), data_dir, res["oracle_sql"],
                               os.path.join(out, "rows"), spec["queries"])
    log("gen %.1f s, harness %.1f s, oracle %.1f s" % (gen_s, t2 - t1, time.time() - t2))
    return dict(root=root, out=out, res=res, expected=expected, gen_s=gen_s)


def family_table(by_family, passes):
    """Self seconds per traced pass, one row per query family."""
    layers = sorted({k for v in by_family.values() for k in v})
    rows = ["family  " + "  ".join("%12s" % x for x in layers)]
    for f in sorted(by_family):
        rows.append("%-6s  " % f + "  ".join(
            "%12.3f" % (by_family[f].get(x, 0.0) / max(1, passes)) for x in layers))
    return "\n".join(rows)


def report(args, spec, m, corrupt=None):
    """Check the results and compute the metrics of one measured run;
    returns (result line, configuration, trace or None)."""
    res, out = m["res"], m["out"]
    oks, bad = check(res, m["expected"], corrupt)
    cpus = res["config"]["cpus"]
    if args.trace:
        metrics, units = per_layer(res, oks, cpus, m["gen_s"]), dict(PER_LAYER)
    else:
        metrics, units = end_to_end(res, oks), dict(END_TO_END)
    config = dict(res["config"], workload=args.workload, queries=spec["queries"],
                  multiplier=spec["mult"], git_head=git_head(m["root"]),
                  steal_ratio=res["steal_ratio"], gen_s=m["gen_s"],
                  executions=len(res["execs"]), passes=len(res["passes"]),
                  content_mismatch=bad,
                  errors=sorted({e["error"] for e in res["execs"] if e["error"]}))
    trace = None
    if args.trace:
        selfs, by_layer, by_query, by_family = layer_tables(res)
        passes = sum(1 for p in res["passes"] if p["traced"])
        trace = {"spans": res["spans"], "self_s": {str(k): v for k, v in selfs.items()},
                 "self_by_layer_s": by_layer, "self_by_query_s": by_query,
                 "self_by_family_s": by_family, "traced_passes": passes,
                 "overhead_ratio": metrics["trace.overhead_ratio"]}
        with open(os.path.join(out, "trace.json"), "w") as f:
            json.dump(trace, f)
        log("self time per traced pass by family (s):\n" + family_table(by_family, passes))
        log("trace written to %s" % os.path.join(out, "trace.json"))
    line = {"correct": not bad and all(oks), "attempted": len(oks),
            "failed": len(oks) - sum(oks),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}
    with open(os.path.join(out, "line.json"), "w") as f:
        json.dump({"result": line, "config": config}, f)
    return line, config, trace


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    line, config, _ = report(args, spec, measure(args, spec))
    print(json.dumps({"config": config}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()

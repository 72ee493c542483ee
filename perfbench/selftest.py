#!/usr/bin/env python3
"""Self-test of the benchmark harness on the repository's sf0.001 fixture.

    python3 perfbench/selftest.py --fixture DIR

DIR is a fixture directory at sf0.001 (one parquet file per table, as
TESTDATA.md describes). Run from the repository root. Checks that

* every end-to-end and per-layer metric prints by name with the unit
  BENCHMARK.json declares;
* a forced query failure and a wrong expected hash each raise the
  failed count (and lower success_ratio / raise run.failed_ratio);
* traced spans nest inside their parents and every self time is >= 0.

Exits 0 when all checks pass, 1 otherwise.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SPEC = dict(shape="sf", mult=1, kernels=["plans.asof"],
            queries=["t1_fold", "t4_sigma_clip", "j8b_asof_nearest", "st10_stream_flare"])
FAIL_QUERY = "t4_sigma_clip"


def main():
    ap = argparse.ArgumentParser(description="benchmark harness self-test")
    ap.add_argument("--fixture", required=True, help="sf0.001 fixture directory")
    fixture = os.path.abspath(ap.parse_args().fixture)
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    def units_match(line, declared, what):
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        want = {m["name"]: m["unit"] for m in declared}
        expect(got == want, what + ": every metric prints by name with its unit")

    # untraced: names and units, then a wrong expected hash
    a = argparse.Namespace(workload="selftest", seed=0, seconds=2.0, trace=0)
    m = run.measure(a, SPEC, data_dir=fixture)
    line, _, _ = run.report(a, SPEC, m)
    units_match(line, bench["end_to_end"], "trace 0")
    expect(line["correct"] and line["failed"] == 0, "clean run has no failures")
    bad, _, _ = run.report(a, SPEC, m, corrupt="t1_fold")
    expect(bad["failed"] > 0 and not bad["correct"]
           and bad["metrics"]["success_ratio"]["value"] < 1.0,
           "a wrong expected hash counts as failed")

    # traced with a forced failure: names and units, failures, span nesting
    t = argparse.Namespace(workload="selftest", seed=0, seconds=4.0, trace=1)
    mt = run.measure(t, SPEC, data_dir=fixture, fail_query=FAIL_QUERY)
    tline, _, trace = run.report(t, SPEC, mt)
    units_match(tline, bench["per_layer"], "trace 1")
    expect(tline["failed"] > 0 and tline["metrics"]["run.failed_ratio"]["value"] > 0,
           "a forced failure raises run.failed_ratio")
    spans = {s["id"]: s for s in trace["spans"]}
    nested = all(s["parent"] == 0 or (
        s["parent"] in spans and spans[s["parent"]]["exec"] == s["exec"]
        and spans[s["parent"]]["start"] <= s["start"] <= s["end"] <= spans[s["parent"]]["end"])
        for s in spans.values())
    expect(len(spans) > 0 and nested, "traced spans nest inside their parents")
    expect(all(v >= 0 for v in trace["self_s"].values()), "every self time is >= 0")
    layers = set(trace["self_by_layer_s"])
    expect({"query", "queries.construct", "exec.run"} <= layers
           and any(x.startswith("catalyst.") for x in layers)
           and any(x.endswith(".job") for x in layers),
           "spans cover construction, catalyst, execution and jobs")
    print("%d problem(s)" % len(problems))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark itself, at tiny sizes.

    python3 perfbench/selftest.py

Checks that
- the input digest of every workload is the same in two processes
  started with different ``PYTHONHASHSEED``;
- the output checks pass a correct output and fail a corrupted match,
  a match that is not a reference term, a missing row and a corrupted
  component label;
- a per-layer metric that was not measured is caught;
- a traced run of every workload (shrunk inputs) is correct, and its
  trace JSON measured every per-layer metric of BENCHMARK.json except
  those of the layers the workload declares unused.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402

TINY = {
    # the references stay above the engine's 10k-row cross-join threshold
    "match_filter": gen.MatchSizes(20, 20, 10_200, 10_200),
    "match_refine": gen.MatchSizes(200, 20, 10_200, 300, zipf_s=0.7),
    "dedup_components": gen.DedupSizes(20, 8, 100),
}

_DIGEST = """
import sys
sys.path.insert(0, {here!r})
import gen, workloads
for name, wl in sorted(workloads.WORKLOADS.items()):
    print(name, wl.generate(f"{{name}}:7:0").digest)
"""


def check_digests() -> list[str]:
    outs = []
    for hashseed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=hashseed,
                   PYTHONPATH=os.pathsep.join([ROOT, HERE]))
        outs.append(subprocess.run(
            [sys.executable, "-c", _DIGEST.format(here=HERE)],
            env=env, capture_output=True, text=True, check=True).stdout)
    print(outs[0], end="")
    return [] if outs[0] == outs[1] else ["input digests differ across PYTHONHASHSEED"]


def check_checks() -> list[str]:
    errors = []
    inp = gen.gen_match("selftest:1:0", gen.MatchSizes(12, 12, 400, 400))
    index = oracle.RefIndex(inp.refs)
    sample = list(range(len(inp.queries)))
    good = [oracle.match_one(q, index, 10, 60, {}) for q in inp.queries]

    def fails(matches) -> bool:
        return bool(oracle.check_matches(
            inp.queries, matches, inp.ref_term_set, sample, index, 10, 60))

    if fails(good):
        errors.append("a correct match output fails the checks")
    other = next(r for r in inp.refs if r != good[3])
    for what, bad in (("corrupted match", good[:3] + [other] + good[4:]),
                      ("non-reference match", good[:3] + ["zzz"] + good[4:])):
        if not fails(bad):
            errors.append(f"a {what} passes the checks")

    import workloads
    p = workloads.Pass(inp, "")
    workloads.WORKLOADS["match_filter"].check(p, list(zip(inp.queries, good))[1:])
    if not p.errors:
        errors.append("a missing output row passes the checks")

    edges = [(0, 1), (1, 2), (4, 5)]
    labels = oracle.cc_labels(6, edges)
    if oracle.check_labels(labels, edges):
        errors.append("correct component labels fail the checks")
    if not oracle.check_labels([0, 0, 0, 3, 5, 5], edges):
        errors.append("a corrupted component label passes the checks")

    import run
    names = ["dedup.cc_s", "fuzzy_join.topk_s", "trace.pass_s"]
    if run.missing_layers({"trace.pass_s": 1.0}, names, ("dedup.",)) != ["fuzzy_join.topk_s"]:
        errors.append("an unmeasured per-layer metric is not caught")
    return errors


def check_traced(name: str) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--traced", name],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        return [f"{name}: traced run exited {proc.returncode}"]
    result = json.loads(proc.stdout.strip().split("\n")[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = [m["name"] for m in json.load(f)["per_layer"]]
    with open(os.path.join(ROOT, ".perfbench_work", "traces", f"{name}-0.json")) as f:
        traced = json.load(f)
    errors = []
    if not result["correct"] or result["failed"]:
        errors.append(f"{name}: traced run is not correct: {result}")
    import run
    import workloads
    missing = run.missing_layers(
        dict.fromkeys(traced["measured"]), wanted, workloads.WORKLOADS[name].unused)
    if missing:
        errors.append(f"{name}: trace JSON lacks {missing}")
    if sorted(traced["metrics"]) != sorted(wanted):
        errors.append(f"{name}: trace JSON does not report exactly the per-layer metrics")
    return errors


def _traced_child(name: str) -> int:
    """Run one traced run with the workload's inputs shrunk."""
    import run
    sys.argv = ["run.py", "--workload", name, "--seed", "0", "--seconds", "1", "--trace", "1"]
    import workloads
    workloads.WORKLOADS[name].sizes = TINY[name]
    return run.main()


def main() -> int:
    if sys.argv[1:2] == ["--traced"]:
        return _traced_child(sys.argv[2])
    errors = check_digests() + check_checks()
    for name in TINY:
        errors += check_traced(name)
    for e in errors:
        print(f"selftest: FAIL {e}")
    print("selftest: ok" if not errors else f"selftest: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

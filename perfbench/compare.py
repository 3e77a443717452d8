"""A/B comparison of two checkouts with the benchmark.

    python3 perfbench/compare.py --a PARENT --b CHANGE --workload W \\
        [--pairs 12] [--out ab.jsonl]
    python3 perfbench/compare.py --report ab.jsonl

The first form runs ``--pairs`` pairs of untraced runs of
``run_seconds`` (from ``BENCHMARK.json``), one per checkout with the
same seed (1000, 1001, ...), alternating which side goes first, and
appends each record (tagged ``side``) to ``--out``.  The default of 12
pairs (``workloads.CHECK_EVERY``) makes the seeds output-check every
analytics key at least once on each side.  Both forms then report each
side's failed operations and, per end-to-end metric, each side's median
and quartiles, how many pairs B won, and a verdict under the rule in
``perfbench/README.md``:

* ``gain``       -- B won at least 9 of every 10 pairs (ties count for
  neither), the medians differ by more than A's quartile spread, and B
  failed no more operations than A (a run that drops a failing key
  from its timings can look faster);
* ``regression`` -- B's median is worse than A's by more than the
  metric's bound in ``BENCHMARK.json``;
* ``unresolved`` -- A's own quartile spread is wider than the bound and
  not every run of B reads better than every run of A;
* ``flat``       -- otherwise.

Records made at different cpus are refused.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from hoststamp import same_cpus  # noqa: E402
from workloads import CHECK_EVERY  # noqa: E402


FIRST_SEED = 1000


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_pairs(args) -> None:
    seconds = str(load_spec()["run_seconds"])
    for i in range(args.pairs):
        seed = FIRST_SEED + i
        order = (("a", args.a), ("b", args.b)) if i % 2 == 0 else \
            (("b", args.b), ("a", args.a))
        for side, checkout in order:
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", args.workload,
                 "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                cwd=checkout, capture_output=True, text=True, check=True).stdout
            rec = next(json.loads(ln)["record"] for ln in out.splitlines()
                       if ln.startswith('{"record"'))
            rec["side"], rec["pair"] = side, i
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"pair {i} {side}: " + " ".join(
                f"{k}={v[0]:.4g}" for k, v in rec["named"].items()), flush=True)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def report(path: str) -> int:
    spec = {m["name"]: m for m in load_spec()["end_to_end"]}
    with open(path) as fh:
        recs = [json.loads(ln) for ln in fh if ln.strip()]
    cpus = same_cpus(recs)
    for wl in sorted({r["workload"] for r in recs}):
        side = {s: sorted((r for r in recs if r["workload"] == wl and r["side"] == s),
                          key=lambda r: r["pair"]) for s in ("a", "b")}
        pairs = [(a, b) for a in side["a"] for b in side["b"] if a["pair"] == b["pair"]]
        failed = {s: (sum(r["failed"] for r in side[s]), sum(r["attempted"] for r in side[s]))
                  for s in side}
        b_failed_more = failed["b"][0] > failed["a"][0]
        print(f"{wl} (cpus={cpus}, pairs={len(pairs)}, steal a/b max "
              f"{max(r['host']['steal_frac'] for r in side['a']):.4f}/"
              f"{max(r['host']['steal_frac'] for r in side['b']):.4f}, failed a "
              f"{failed['a'][0]}/{failed['a'][1]}, b {failed['b'][0]}/{failed['b'][1]})")
        if b_failed_more:
            print("  FLAGGED: B failed more operations than A; no gain is claimed")
        for name, m in spec.items():
            lower = m["better"] == "lower"
            va = [r["named"][name][0] for r in side["a"]]
            vb = [r["named"][name][0] for r in side["b"]]
            qa, qb = quartiles(va), quartiles(vb)
            sign = 1 if lower else -1  # > 0 means B is worse
            wins = sum(sign * (b["named"][name][0] - a["named"][name][0]) < 0
                       for a, b in pairs)
            worse = sign * (qb[1] - qa[1]) / qa[1]
            b_always_better = max(vb) < min(va) if lower else min(vb) > max(va)
            if (pairs and wins >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > qa[2] - qa[0]
                    and not b_failed_more):
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif (qa[2] - qa[0]) / qa[1] > m["bound"] and not b_always_better:
                verdict = "unresolved"
            else:
                verdict = "flat"
            print(f"  {name:18s} a {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"b {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {m['unit']}  "
                  f"b won {wins}/{len(pairs)}  {verdict}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--report", metavar="FILE")
    ap.add_argument("--a")
    ap.add_argument("--b")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=CHECK_EVERY)
    ap.add_argument("--out", default="ab.jsonl")
    args = ap.parse_args()
    if args.report:
        return report(args.report)
    if not (args.a and args.b and args.workload):
        ap.error("--a, --b and --workload are required unless --report is given")
    run_pairs(args)
    return report(args.out)


if __name__ == "__main__":
    sys.exit(main())

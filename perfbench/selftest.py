"""Self-test: a short sf0.001 run of all three workloads, untraced then
traced, asserting that every named metric appears with its unit and
that nothing failed.

    python3 perfbench/selftest.py

Takes a few minutes (two sessions, every analytics key checked against
its oracle: ``--check-every 1``).  Exits non-zero on the first missing metric or failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

import run  # noqa: E402

# Workload-named metrics each record must carry, with their units.
NAMED = {
    "analytics": {"sweep_s": "s", "query_p50_ms": "ms", "query_p90_ms": "ms"},
    "ingest_stream": {"stream_rows_per_s": "1/s", "stream_latency_p50_ms": "ms",
                      "stream_latency_p95_ms": "ms"},
    "txstore_mixed": {"append_p50_ms": "ms", "append_p90_ms": "ms",
                      "lookup_p50_ms": "ms", "lookup_p95_ms": "ms",
                      "store_ops_per_s": "1/s"},
}
COMMON = {"setup_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB"}


def run_all(trace: int) -> tuple[list[dict], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--seed", "1", "--seconds", "2", "--sf", "0.001", "--trace", str(trace),
         "--check-every", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"selftest: run.py --trace {trace} exited {out.returncode}\n"
                 + out.stderr[-3000:])
    lines = out.stdout.splitlines()
    records = [json.loads(ln)["record"] for ln in lines if ln.startswith('{"record"')]
    return records, json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"selftest: FAILED: {what}")


def main() -> int:
    per_layer = run.per_layer_units()
    for trace in (0, 1):
        records, result = run_all(trace)
        expect(set(result) == {"correct", "attempted", "failed", "metrics"},
               f"result keys {sorted(result)}")
        expect(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
               f"trace {trace}: correct={result['correct']} failed={result['failed']}")
        want = dict(run.END_TO_END) if trace == 0 else per_layer
        for wl in run.WORKLOAD_NAMES:
            rec = next(r for r in records if r["workload"] == wl)
            for name, unit in {**COMMON, **NAMED[wl]}.items():
                expect(rec["named"].get(name, (None, None))[1] == unit,
                       f"{wl}: named metric {name} [{unit}] missing")
            expect(rec["named"]["failed_frac"][0] == 0,
                   f"{wl}: failed_frac {rec['named']['failed_frac'][0]}")
            for name, unit in want.items():
                m = result["metrics"].get(f"{wl}.{name}")
                expect(m is not None and m["unit"] == unit
                       and isinstance(m["value"], (int, float)),
                       f"trace {trace}: {wl}.{name} [{unit}] missing")
        print(f"selftest: trace {trace}: {len(result['metrics'])} metrics, "
              f"{result['attempted']} operations, 0 failed", flush=True)
    print("selftest: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())

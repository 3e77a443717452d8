"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
                             [--sf F] [--check-every N]

Run from the root of a checkout.  The run generates its corpus from a
fixed generator seed (``--seed`` sets key order, stream slices and store
ids), starts one ``local[<cpus>]`` session, sets the workload up, times
it for ``--seconds``, checks its outputs, and prints two lines: a
``{"record": ...}`` line with the host stamp and every workload-named
metric, then the result line ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer ones.  ``--workload all`` runs the three workloads in
one process and session.  Everything the run writes stays under
``perfbench/.work`` (removed at exit) and ``perfbench/.out`` (records
and span files).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

T_PROC = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
RECORDS = os.path.join(OUT, "records.jsonl")
CHECK_SF = 0.01
CORPUS_SEED = 42
PREPARE_REPEATS = 3
# The engine's default 16g heap cap lets the JVM grow past 10 GB RSS on
# the corpus keys while their live data stays under 1 GB; 4g keeps a run
# small on a shared 16 GB host.
DRIVER_MEMORY = "4g"

WORKLOAD_NAMES = ("analytics", "ingest_stream", "txstore_mixed")
END_TO_END = (("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"),
              ("throughput_per_s", "1/s"))
OPERATOR_FIELDS = (("plan_ms", "ms"), ("exec_ms", "ms"), ("stages", "count"),
                   ("tasks", "count"), ("executor_cpu_ms", "ms"),
                   ("shuffle_bytes", "bytes"), ("slot_use", "ratio"))
OTHER_LAYERS = (
    ("tables.input_bytes", "bytes"), ("tables.input_rows", "count"),
    ("session.start_ms", "ms"), ("artifacts.build_ms", "ms"),
    ("artifacts.reuse_ratio", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.spill_bytes", "bytes"), ("jvm.peak_rss_mb", "MB"),
    ("streaming.query_planning_ms_p50", "ms"), ("streaming.get_batch_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"), ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.sink.topk_ms", "ms"), ("streaming.sink.compact_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mem_bytes", "bytes"),
    ("streaming.backlog_files_max", "count"), ("gen.late_ms_max", "ms"),
    ("api.append_ms", "ms"), ("api.lookup_ms", "ms"), ("api.list_all_ms", "ms"),
    ("api.table_files", "count"), ("api.bytes_per_row", "bytes"),
    ("json_ingest.ingest_rows_ms", "ms"),
    ("trace.overhead_frac", "ratio"),
)


def per_layer_units() -> dict[str, str]:
    from workloads import LAYER_MODULES

    units = {f"operators.{m}.{f}": u for m in (*LAYER_MODULES, "other")
             for f, u in OPERATOR_FIELDS}
    units.update(OTHER_LAYERS)
    return units


def positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"{n} is not a positive whole number")
    return n


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the timed corpus (default 0.1)")
    ap.add_argument("--check-every", type=positive_int, default=None, metavar="N",
                    help="check the analytics keys whose HEADLINE index is the "
                         "seed modulo N (default workloads.CHECK_EVERY; 1 checks all)")
    return ap.parse_args(argv)


def require_engine() -> None:
    """Fail before any work when the engine is not next to the benchmark."""
    for rel in ("bench.py", "financialtransactionmonitoringsystem_spark/__init__.py",
                "tools/gated_bench.py", "tests/compare.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from a "
                     "checkout of the engine")


def code_id() -> str:
    """Hash of the Python sources a run executes (engine package,
    ``bench.py``, the imported tools and the benchmark), so records of
    different code are never taken for one another."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, f) for f in ("bench.py", "tools/gated_bench.py",
                                             "tests/compare.py")]
    for top in ("financialtransactionmonitoringsystem_spark", "perfbench"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return kb / 1024 + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def close_spark(spark) -> None:
    """Stop the session, then shut the JVM down and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def drop_artifacts(corpus_dirs: list[str]) -> None:
    """Remove the engine's persisted artifacts built for this run's corpora."""
    from financialtransactionmonitoringsystem_spark.artifacts import corpus_slug

    wh = os.path.join(ROOT, "spark-warehouse")
    slugs = {corpus_slug(d) for d in corpus_dirs}
    for dirpath, dirnames, _ in os.walk(wh):
        for d in [d for d in dirnames if d in slugs]:
            shutil.rmtree(os.path.join(dirpath, d), ignore_errors=True)
            dirnames.remove(d)


class Instruments:
    """Traced-run wrappers around engine functions the workloads reach
    only indirectly: artifact marker probes and JSON row ingest."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.probes = self.hits = 0
        self._undo = []

    def install(self) -> None:
        from financialtransactionmonitoringsystem_spark import artifacts
        from financialtransactionmonitoringsystem_spark.sources import json_ingest

        marker_current, ingest_rows = artifacts.marker_current, json_ingest.ingest_rows

        def probe(path, fp):
            hit = marker_current(path, fp)
            self.probes += 1
            self.hits += bool(hit)
            return hit

        def ingest(spark, rows):
            with self.tracer.span("json_ingest.ingest_rows"):
                return ingest_rows(spark, rows)

        artifacts.marker_current, json_ingest.ingest_rows = probe, ingest
        self._undo = [(artifacts, "marker_current", marker_current),
                      (json_ingest, "ingest_rows", ingest_rows)]

    def remove(self) -> None:
        for mod, name, fn in self._undo:
            setattr(mod, name, fn)


def untraced_reference(args, workload: str) -> float | None:
    """Median throughput of the untraced runs of ``workload`` recorded in
    this checkout with the same settings and the same code, or None."""
    if not os.path.exists(RECORDS):
        return None
    vals = []
    with open(RECORDS) as fh:
        for line in fh:
            r = json.loads(line)
            if (r["workload"] == workload and not r["trace"] and r["sf"] == args.sf
                    and r["seconds"] == args.seconds and r["host"]["cpus"] == args.cpus
                    and r.get("code") == args.code):
                vals.append(r["named"]["throughput_per_s"][0])
    vals.sort()
    return vals[len(vals) // 2] if vals else None


def run_workload(name, args, spark, tracer, paths, session_s, instruments) -> dict:
    from workloads import CHECK_EVERY, WORKLOADS, Run, median, pct

    run = Run(spark=spark, tracer=tracer, sf_dir=paths["sf"],
              check_dir=paths["check"], work=paths["work"], seed=args.seed,
              cpus=args.cpus, check_every=args.check_every or CHECK_EVERY)
    wl = WORKLOADS[name](run)
    t0 = time.perf_counter()
    wl.setup_once()
    once_s = time.perf_counter() - t0
    prep = []
    for _ in range(PREPARE_REPEATS):
        t0 = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t0)
    setup_s = session_s + once_s + median(prep)

    groups_before = set(tracer.groups)
    t0 = time.perf_counter()
    samples = wl.measure(args.seconds)
    t1 = time.perf_counter()
    checked, wrong, notes = wl.check()
    print(f"perfbench: {name}: setup {setup_s:.1f} s, measure {t1 - t0:.1f} s, "
          f"check {time.perf_counter() - t1:.1f} s, {wrong} wrong of {checked}",
          file=sys.stderr, flush=True)
    attempted = samples.attempted + checked
    failed = samples.failed + wrong
    named = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (pct(samples.ops_ms, 50), "ms"),
        "op_p90_ms": (pct(samples.ops_ms, 90), "ms"),
        "throughput_per_s": (samples.throughput, "1/s"),
        "peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
        **samples.extra,
        "failed_frac": (failed / max(1, attempted), "ratio"),
        "ops_sampled": (len(samples.ops_ms), "count"),
    }
    rec = {"workload": name, "seed": args.seed, "seconds": args.seconds,
           "sf": args.sf, "trace": args.trace, "code": args.code,
           "check_every": run.check_every, "attempted": attempted,
           "failed": failed, "named": named, "notes": notes[:20],
           "setup_parts_s": {"session": session_s, "once": once_s, "prepare": prep}}
    if tracer.enabled:
        rec["layers_raw"] = samples.layers
        rec["groups"] = sorted(tracer.groups - groups_before)
        rec["artifact_probes"] = (instruments.probes, instruments.hits)
        rec["build_ms"] = getattr(wl, "build_ms", 0.0)
    return rec


def layer_metrics(rec: dict, groups: dict, args, ref_tput) -> dict[str, float]:
    """Per-layer values of one traced workload record."""
    from spans import TASK_FIELDS
    from workloads import LAYER_MODULES

    out = dict.fromkeys(per_layer_units(), 0.0)
    raw = rec.get("layers_raw", {})
    per_key, passes = raw.get("per_key", {}), max(1, raw.get("passes", 1))
    layer_of = raw.get("layer_of", {})
    mods = {m: {f: 0.0 for f in ("plan_ms", "exec_ms", "stages", "tasks",
                                 "cpu_ms", "run_ms", "shuffle_bytes")}
            for m in (*LAYER_MODULES, "other")}
    totals = dict.fromkeys(TASK_FIELDS, 0.0)
    timed = set(rec.get("groups", ()))
    for group, acc in groups.items():
        key = group.split("#", 1)[0]
        if key in per_key:
            m = mods[layer_of[key]]
            m["cpu_ms"] += acc["cpu_ms"]
            m["shuffle_bytes"] += acc["shuffle_bytes"]
            if group.endswith(":exec"):
                m["run_ms"] += acc["run_ms"]
        if group in timed:
            for f in TASK_FIELDS:
                totals[f] += acc[f]
    for key, acc in per_key.items():
        m = mods[layer_of[key]]
        for f in ("plan_ms", "exec_ms", "stages", "tasks"):
            m[f] += acc[f]
    for name, m in mods.items():
        p = f"operators.{name}."
        for f in ("plan_ms", "exec_ms", "stages", "tasks"):
            out[p + f] = m[f] / passes
        out[p + "executor_cpu_ms"] = m["cpu_ms"] / passes
        out[p + "shuffle_bytes"] = m["shuffle_bytes"] / passes
        out[p + "slot_use"] = (m["run_ms"] / (m["exec_ms"] * args.cpus)
                               if m["exec_ms"] else 0.0)
    if per_key:
        out["tables.input_bytes"] = totals["input_bytes"] / passes
        out["tables.input_rows"] = totals["input_rows"] / passes
    out["jvm.gc_ms"] = totals["gc_ms"]
    out["jvm.spill_bytes"] = totals["spill_bytes"]
    out["jvm.peak_rss_mb"] = rec["named"]["peak_rss_mb"][0]
    out["session.start_ms"] = rec["session_start_ms"]
    out["artifacts.build_ms"] = rec.get("build_ms", 0.0)
    probes, hits = rec.get("artifact_probes", (0, 0))
    out["artifacts.reuse_ratio"] = hits / probes if probes else 0.0
    for k, v in raw.items():
        if k in out:
            out[k] = float(v)
    tput = rec["named"]["throughput_per_s"][0]
    out["trace.overhead_frac"] = ref_tput / tput - 1 if ref_tput and tput else 0.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    require_engine()
    # A terminated run still stops its JVM and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    from hoststamp import HostStamp, cpu_count

    args.cpus = cpu_count()
    args.code = code_id()
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    # Base for trace.overhead_frac: the untraced runs of the same settings
    # and code already recorded in this checkout (none: reported as 0).
    refs = {name: untraced_reference(args, name) for name in names} if args.trace else {}

    work = os.path.join(HERE, ".work", f"{os.getpid()}-{time.time_ns()}")
    paths = {"work": work, "sf": os.path.join(work, "data", f"sf{args.sf:g}")}
    paths["check"] = (paths["sf"] if args.sf <= CHECK_SF
                      else os.path.join(work, "data", f"sf{CHECK_SF:g}"))
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = None
    try:
        import gen

        t0 = time.perf_counter()
        gen.generate(paths["sf"], args.sf, CORPUS_SEED)
        if paths["check"] != paths["sf"]:
            gen.generate(paths["check"], CHECK_SF, CORPUS_SEED)
        gen_s = time.perf_counter() - t0

        import spans

        tracer = spans.Tracer(bool(args.trace))
        stamp = HostStamp(args.cpus)
        stamp.start()
        confs = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.driver.memory": DRIVER_MEMORY,
        }
        if args.trace:
            confs.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                          "spark.eventLog.compress": "false"})
        t_sess = time.perf_counter()
        from financialtransactionmonitoringsystem_spark.session import get_spark

        spark = get_spark("perfbench", cpus=args.cpus, extra_confs=confs)
        session_start_ms = (time.perf_counter() - t_sess) * 1e3
        session_s = time.perf_counter() - T_PROC - gen_s
        instruments = Instruments(tracer)
        if args.trace:
            instruments.install()
        records = []
        for name in names:
            rec = run_workload(name, args, spark, tracer, paths, session_s, instruments)
            rec["session_start_ms"] = session_start_ms
            records.append(rec)
        instruments.remove()
        close_spark(spark)
        spark = None
        host = stamp.stop()
        groups = (spans.parse_event_log(os.path.join(work, "eventlog"))
                  if args.trace else {})
    finally:
        if spark is not None:
            close_spark(spark)
        drop_artifacts([paths["sf"], paths["check"]])
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT, exist_ok=True)
    units = per_layer_units()
    metrics = {}
    for rec in records:
        rec["host"] = host
        prefix = f"{rec['workload']}." if args.workload == "all" else ""
        if args.trace:
            vals = layer_metrics(rec, groups, args, refs.get(rec["workload"]))
            rec["layers"] = vals
            rec["trace_overhead_base"] = refs.get(rec["workload"])
            metrics.update({prefix + k: {"value": v, "unit": units[k]}
                            for k, v in vals.items()})
        else:
            metrics.update({prefix + k: {"value": rec["named"][k][0], "unit": u}
                            for k, u in END_TO_END})
        rec.pop("layers_raw", None)
        rec.pop("groups", None)
        with open(RECORDS, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
    if args.trace:
        tracer.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    for rec in records:
        print(json.dumps({"record": rec}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

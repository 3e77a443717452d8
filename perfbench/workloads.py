"""The three benchmark workloads.

Each workload is built from a :class:`Run` (session, tracer, corpus
paths, seed) and offers three steps:

* ``prepare()`` -- the repeatable part of set-up (warm-up, fresh stores,
  warm-up streams).  ``run.py`` repeats it and reports the median.
* ``measure(seconds)`` -- the timed loop.  Returns a :class:`Samples`.
* ``check()`` -- output checks, after the timed loop.  Returns
  ``(checked, wrong, notes)``.

``setup_once()`` holds set-up work too costly to repeat (the corpus
artifact builds); it is timed and added to set-up once.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import Tracer, group_counts, job_group

# Modules reported as their own layer (each has four or more HEADLINE
# keys); the keys of every other module roll up into "other".
LAYER_MODULES = ("aggregates", "relational", "timeseries", "extras",
                 "batch_twins", "text", "dedup", "similarity", "curate",
                 "multimodal")
# Checking a key (small corpus + DuckDB oracle) costs about as much as
# timing it, so by default a run checks the keys whose HEADLINE index is
# the seed modulo CHECK_EVERY; CHECK_EVERY consecutive seeds cover every
# key.  ``run.py --check-every 1`` checks every key.
CHECK_EVERY = 12


def layer_of(fn) -> str:
    m = fn.__module__.rsplit(".", 1)[-1]
    return m if m in LAYER_MODULES else "other"


@dataclass
class Run:
    spark: object
    tracer: Tracer
    sf_dir: str       # corpus the timed loop reads
    check_dir: str    # small corpus the output checks read
    work: str         # scratch directory of this run
    seed: int
    cpus: int
    check_every: int  # check the analytics keys at index == seed mod this


@dataclass
class Samples:
    """What a timed loop measured.  ``ops_ms`` is every operation's
    latency; ``throughput`` is operations (keys, rows or store calls)
    per second of the loop."""
    ops_ms: list[float]
    throughput: float
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)   # workload-named metrics
    layers: dict = field(default_factory=dict)  # per-layer raw numbers


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def median(values) -> float:
    return pct(values, 50)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------- analytics

class Analytics:
    """Closed loop, one client: passes over every ``bench.HEADLINE`` key
    at the timed corpus, each key to the ``noop`` sink, in a seed-set
    order per pass.  Whole passes run until ``seconds`` have elapsed.
    Keys are attributed to layers by the module of their function, so a
    key added to ``HEADLINE`` is measured without edits here."""

    def __init__(self, run: Run):
        from bench import HEADLINE

        from financialtransactionmonitoringsystem_spark import queries

        self.run = run
        self.queries = queries.all_queries()
        self.oracles = queries.all_oracles()
        self.keys = [k for k in HEADLINE if k in self.queries]
        self.build_ms = 0.0

    def prepare(self) -> None:
        """Warm the JVM on the code paths the keys share (scan + aggregate,
        join, window, and the array functions of the corpus keys)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark, sf = self.run.spark, self.run.sf_dir
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        li.count()
        part = li.limit(50_000)
        part.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
        orders = spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey")
        part.join(orders, part.l_orderkey == orders.o_orderkey).count()
        w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        part.select(F.row_number().over(w).alias("rn")).filter("rn = 1").count()
        docs = spark.read.parquet(f"{sf}/documents.parquet").limit(200)
        toks = docs.select("doc_id", F.array_distinct(F.transform(
            F.split("text", " "), lambda t: F.xxhash64(t))).alias("tk"))
        (toks.alias("x").join(toks.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
         .select(F.size(F.array_intersect("x.tk", "y.tk")).alias("i"))
         .agg(F.sum("i")).collect())

    def _build_artifacts(self, sf_dir: str, request: str) -> None:
        from financialtransactionmonitoringsystem_spark.artifacts import corpus_builders

        for name, build in corpus_builders().items():
            with self.run.tracer.span(f"artifacts.{name}", request=request):
                build(self.run.spark, sf_dir)

    def setup_once(self) -> None:
        """The timed corpus's artifacts."""
        t0 = time.perf_counter()
        self._build_artifacts(self.run.sf_dir, "setup")
        self.build_ms = (time.perf_counter() - t0) * 1e3

    def measure(self, seconds: float) -> Samples:
        spark, tr, sf = self.run.spark, self.run.tracer, self.run.sf_dir
        rng = random.Random(self.run.seed)
        ops, passes, failed, attempted = [], [], 0, 0
        per_key: dict[str, dict] = {}
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            order = list(self.keys)
            rng.shuffle(order)
            pass_s = 0.0
            for key in order:
                fn = self.queries[key]
                req = f"{key}#{len(passes)}"
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span("query", request=req, key=key):
                        with tr.span("plan"), job_group(spark, tr, req + ":plan"):
                            df = fn(spark, sf)
                        t1 = time.perf_counter()
                        with tr.span("exec"), job_group(spark, tr, req + ":exec"):
                            _noop(df)
                except Exception as exc:  # noqa: BLE001 - counted, the loop goes on
                    failed += 1
                    print(f"perfbench: {key} failed: {exc!r}"[:500], flush=True)
                    continue
                t2 = time.perf_counter()
                ops.append((t2 - t0) * 1e3)
                pass_s += t2 - t0
                if tr.enabled:
                    stages, tasks = group_counts(spark, req + ":exec")
                    acc = per_key.setdefault(key, {"plan_ms": 0.0, "exec_ms": 0.0,
                                                   "stages": 0, "tasks": 0})
                    acc["plan_ms"] += (t1 - t0) * 1e3
                    acc["exec_ms"] += (t2 - t1) * 1e3
                    acc["stages"] += stages
                    acc["tasks"] += tasks
            passes.append(pass_s)
        sweep = median(passes)
        return Samples(
            ops_ms=ops, throughput=len(ops) / max(sum(passes), 1e-9),
            attempted=attempted, failed=failed,
            extra={"sweep_s": (sweep, "s"),
                   "query_p50_ms": (pct(ops, 50), "ms"),
                   "query_p90_ms": (pct(ops, 90), "ms"),
                   "passes": (len(passes), "count")},
            layers={"per_key": per_key, "passes": len(passes),
                    "layer_of": {k: layer_of(self.queries[k]) for k in self.keys}})

    def checked_keys(self) -> list[str]:
        """The keys whose HEADLINE index is the seed modulo ``check_every``."""
        return [k for i, k in enumerate(self.keys)
                if (i - self.run.seed) % self.run.check_every == 0]

    def check(self) -> tuple[int, int, list[str]]:
        """Checked keys at the check corpus against their DuckDB oracle;
        keys without one get a schema and row-count check.  The check
        corpus gets its artifacts first, so the keys read them through
        the same path as in the timed loop, not the inline derivation."""
        import duckdb

        from tests.compare import assert_frames_match

        spark, small = self.run.spark, self.run.check_dir
        wrong, notes = 0, []
        if small != self.run.sf_dir:
            try:
                self._build_artifacts(small, "check")
            except Exception as exc:  # noqa: BLE001 - a failed build is counted
                wrong += 1
                notes.append(f"artifacts at the check corpus: {exc!r}"[:300])
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{small}/{t}.parquet')")
        keys = self.checked_keys()
        for key in keys:
            fn = self.queries[key]
            try:
                got = fn(spark, small).toPandas()
                if key in self.oracles:
                    assert_frames_match(got, con.execute(self.oracles[key]).df(), key)
                else:
                    want = fn(spark, self.run.sf_dir).columns
                    if list(got.columns) != want or len(got) == 0:
                        raise AssertionError(f"{key}: columns {list(got.columns)} "
                                             f"rows {len(got)}; want {want}, rows > 0")
            except Exception as exc:  # noqa: BLE001 - a wrong output is counted
                wrong += 1
                notes.append(f"{key}: {exc!r}"[:300])
        con.close()
        return len(keys) + (small != self.run.sf_dir), wrong, notes


# ------------------------------------------------------------ ingest stream

STREAM_ROWS_PER_FILE = 250
STREAM_FILE_INTERVAL_S = 0.25
STREAM_TRIGGER = "2 seconds"
# Event time the fixed-rate phase covers, spread over its files whatever
# their number: three hours, so the 10-minute watermark closes at least
# one 1-hour window and the velocity alerts are checked on real output.
STREAM_EVENT_MIN = 180.0
WARM_FILE_SPAN_MIN = 2.0
STREAM_FLUSH_TIMEOUT_S = 60.0
DRAIN_FILES = 64
DRAIN_ROWS_PER_FILE = 2000
DRAIN_FILES_PER_TRIGGER = 8
DRAIN_FILE_SPAN_MIN = 6.0
DUP_FRAC = 0.05


class EventSlicer:
    """Seed-chosen slices of the corpus's ``events`` table, shifted in ts
    so the stream's event time only moves forward, with fresh event ids
    and a share of re-sent rows (same id, 1 s later, new value) inside
    the same file."""

    def __init__(self, sf_dir: str, seed: int):
        ev = pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
        self.ev = ev
        self.rng = np.random.default_rng(seed)
        self.next_id = 0
        self.clock = np.datetime64("2030-01-01T00:00:00", "us")

    def next_file(self, rows: int, span_min: float) -> pa.Table:
        """``rows`` consecutive events, their ts order kept and scaled to
        span ``span_min`` minutes after the previous file's last row."""
        span_us = span_min * 60e6
        ev, rng = self.ev, self.rng
        rows = min(rows, len(ev) // 2)
        start = int(rng.integers(0, len(ev) - rows))
        part = ev.iloc[start:start + rows].copy()
        ts = part["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        ts = self.clock + ((ts - ts[0]) * (span_us / max(1, ts[-1] - ts[0]))
                           ).astype(np.int64).astype("timedelta64[us]")
        ids = np.arange(self.next_id, self.next_id + rows, dtype=np.int64)
        self.next_id += rows
        dup = np.sort(rng.choice(rows, max(1, int(rows * DUP_FRAC)), replace=False))
        cols = {
            "event_id": np.concatenate([ids, ids[dup]]),
            "ts": np.concatenate([ts, ts[dup] + np.timedelta64(1, "s")]),
            "user_id": np.concatenate([part["user_id"].to_numpy(),
                                       part["user_id"].to_numpy()[dup]]),
            "event_type": np.concatenate([part["event_type"].to_numpy(),
                                          part["event_type"].to_numpy()[dup]]),
            "value": np.concatenate([part["value"].to_numpy(),
                                     part["value"].to_numpy()[dup] + 1.0]),
            "props": np.concatenate([part["props"].to_numpy(),
                                     part["props"].to_numpy()[dup]]),
        }
        self.clock = ts[-1] + np.timedelta64(1, "s")
        return pa.Table.from_pydict(cols, schema=LANDING_SCHEMA)


LANDING_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def land(table: pa.Table, landing: str, name: str) -> None:
    """Write ``name`` into ``landing`` atomically: the file source skips
    names starting with a dot, so the rename is the moment it lands."""
    tmp = os.path.join(landing, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(landing, name))


class IngestStream:
    """Open loop at a fixed rate, then a drain.

    The client lands one file every ``STREAM_FILE_INTERVAL_S``, on a
    schedule that does not wait for the engine, while three streaming
    queries run on a processing-time trigger: ``tumbling_counts`` into
    ``topk_per_window_sink`` (the dashboard), the raw events into
    ``compact_latest_to`` (the serving table) and ``velocity_alerts``
    into a parquet sink.  A file's latency runs from when it was due to
    land until the last of the three queries committed the micro-batch
    holding it.  The drain then starts the same queries over a fixed
    pre-landed backlog and times them from the first batch's start to
    the last batch's commit."""

    def __init__(self, run: Run):
        self.run = run
        self.n_prep = 0
        self.slicer = EventSlicer(run.sf_dir, run.seed)
        self.landed: list[tuple[str, dict, list[pa.Table]]] = []

    def _dirs(self, tag: str) -> dict[str, str]:
        base = os.path.join(self.run.work, "stream", tag)
        d = {k: os.path.join(base, k) for k in
             ("landing", "dash", "serving", "alerts", "ckpt")}
        os.makedirs(d["landing"], exist_ok=True)
        return d

    def _start(self, d: dict, trigger: dict, max_files: int | None = None):
        from financialtransactionmonitoringsystem_spark.streaming import pipeline

        spark, tr = self.run.spark, self.run.tracer
        reader = spark.readStream.schema(self._schema())
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        events = reader.parquet(d["landing"])

        def timed(name, sink):
            if not tr.enabled:
                return sink

            def _sink(df, epoch_id):
                with tr.span(name, request=f"{name}#{epoch_id}"):
                    sink(df, epoch_id)
            return _sink

        ck = d["ckpt"]
        return {
            "dashboard": pipeline.tumbling_counts(events).writeStream
            .outputMode("update")
            .foreachBatch(timed("streaming.sink.topk",
                                pipeline.topk_per_window_sink(d["dash"])))
            .option("checkpointLocation", f"{ck}/dashboard").trigger(**trigger).start(),
            "serving": events.writeStream
            .foreachBatch(timed("streaming.sink.compact",
                                pipeline.compact_latest_to(d["serving"])))
            .option("checkpointLocation", f"{ck}/serving").trigger(**trigger).start(),
            "alerts": pipeline.velocity_alerts(events).writeStream
            .outputMode("append").format("parquet").option("path", d["alerts"])
            .option("checkpointLocation", f"{ck}/alerts").trigger(**trigger).start(),
        }

    def _schema(self):
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ])

    def _timed_groups(self, qs: dict) -> None:
        """Spark runs each streaming query's jobs under its run id."""
        if self.run.tracer.enabled:
            self.run.tracer.groups.update(str(q.runId) for q in qs.values())

    def setup_once(self) -> None:
        pass

    def prepare(self) -> None:
        """A two-file warm-up stream through all three queries."""
        self.n_prep += 1
        d = self._dirs(f"warm{self.n_prep}")
        slicer = EventSlicer(self.run.sf_dir, self.run.seed + 7919 * self.n_prep)
        for i in range(2):
            land(slicer.next_file(50, WARM_FILE_SPAN_MIN), d["landing"],
                 f"w{i:05d}.parquet")
        qs = self._start(d, {"availableNow": True})
        for q in qs.values():
            q.awaitTermination()

    def measure(self, seconds: float) -> Samples:
        # --- fixed-rate phase
        d = self._dirs("rate")
        n_files = max(1, int(round(seconds / STREAM_FILE_INTERVAL_S)))
        names = [f"f{i:05d}.parquet" for i in range(n_files)]
        files = [self.slicer.next_file(STREAM_ROWS_PER_FILE, STREAM_EVENT_MIN / n_files)
                 for _ in range(n_files)]
        due, landed_at = [], []
        qs = self._start(d, {"processingTime": STREAM_TRIGGER})
        t_start = time.time() + 0.5
        for i, tbl in enumerate(files):
            due.append(t_start + i * STREAM_FILE_INTERVAL_S)
            time.sleep(max(0.0, due[-1] - time.time()))
            land(tbl, d["landing"], names[i])
            landed_at.append(time.time())
        # Wait until every query committed every file.  (processAllAvailable
        # also waits out the no-data batches that advance the watermark.)
        flush_deadline = time.time() + STREAM_FLUSH_TIMEOUT_S
        while True:
            progress = {k: _progress(q) for k, q in qs.items()}
            commit = _file_commits(d["ckpt"], progress)
            if len(commit) == n_files or time.time() > flush_deadline:
                break
            time.sleep(0.1)
        for q in qs.values():
            q.stop()
        self._timed_groups(qs)
        self.landed.append(("rate", d, files))
        lat = [(commit[f] - t_due) * 1e3 for f, t_due in zip(names, due) if f in commit]
        failed = n_files - len(lat)
        backlog = max(sum(1 for j in range(n_files)
                          if landed_at[j] <= landed_at[i] < commit.get(names[j], 1e18))
                      for i in range(n_files))
        # --- drain phase
        dd = self._dirs("drain")
        drain = [self.slicer.next_file(DRAIN_ROWS_PER_FILE, DRAIN_FILE_SPAN_MIN)
                 for _ in range(DRAIN_FILES)]
        for i, tbl in enumerate(drain):
            land(tbl, dd["landing"], f"d{i:05d}.parquet")
        rows = sum(t.num_rows for t in drain)
        dqs = self._start(dd, {"availableNow": True}, DRAIN_FILES_PER_TRIGGER)
        for q in dqs.values():
            q.awaitTermination()
        progress_drain = {k: _progress(q) for k, q in dqs.items()}
        # From the first batch's start to the last batch's commit: query
        # start-up is not draining.
        spans_s = [_batch_span(p) for ps in progress_drain.values() for p in ps]
        drain_s = max(b for _, b in spans_s) - min(a for a, _ in spans_s)
        self._timed_groups(dqs)
        self.landed.append(("drain", dd, drain))
        all_progress = [p for ps in (*progress.values(), *progress_drain.values())
                        for p in ps if p.get("numInputRows", 0) > 0]

        def dur(k):
            return median([p["durationMs"].get(k, 0) for p in all_progress])

        state = [sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", ()))
                 for p in all_progress]
        mem = [sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", ()))
               for p in all_progress]
        tr = self.run.tracer
        return Samples(
            ops_ms=lat, throughput=rows / drain_s,
            attempted=n_files + DRAIN_FILES, failed=failed,
            extra={"stream_rows_per_s": (rows / drain_s, "1/s"),
                   "stream_latency_p50_ms": (pct(lat, 50), "ms"),
                   "stream_latency_p95_ms": (pct(lat, 95), "ms"),
                   "stream_files": (n_files, "count")},
            layers={
                "streaming.query_planning_ms_p50": dur("queryPlanning"),
                "streaming.get_batch_ms_p50": dur("getBatch"),
                "streaming.wal_commit_ms_p50": dur("walCommit"),
                "streaming.add_batch_ms_p50": dur("addBatch"),
                "streaming.sink.topk_ms": median(tr.durations_ms("streaming.sink.topk")),
                "streaming.sink.compact_ms": median(tr.durations_ms("streaming.sink.compact")),
                "streaming.state_rows": max(state, default=0),
                "streaming.state_mem_bytes": max(mem, default=0),
                "streaming.backlog_files_max": backlog,
                "gen.late_ms_max": max((a - b) * 1e3 for a, b in zip(landed_at, due)),
            })

    def check(self) -> tuple[int, int, list[str]]:
        """Per phase: dashboard totals equal a recompute over the landed
        rows (counts exact, totals to the cent: the stream sums in
        another order); the serving table equals the latest row per
        event id; the velocity alerts are exactly the recomputed
        (window, user) pairs over the threshold in every window the
        watermark of the sink's last batch had closed, and at least one
        window was closed."""
        import inspect

        from financialtransactionmonitoringsystem_spark.streaming import pipeline

        threshold = inspect.signature(pipeline.velocity_alerts).parameters[
            "max_per_hour"].default
        spark = self.run.spark
        checked, wrong, notes = 0, 0, []
        for phase, d, files in self.landed:
            rows = pa.concat_tables(files).to_pandas()
            rows["ws"] = _naive_ns(rows["ts"].dt.floor("h"))
            want = rows.groupby(["ws", "event_type"])["value"].agg(["size", "sum"])
            got = spark.read.parquet(d["dash"]).toPandas()
            got["ws"] = _naive_ns(got["ws"])
            got = got.set_index(["ws", "event_type"]).sort_index()
            checked += 1
            if not (got.index.equals(want.index)
                    and (got["n"].to_numpy() == want["size"].to_numpy()).all()
                    and (np.abs(got["total"].to_numpy() - want["sum"].to_numpy())
                         <= 0.0100001).all()):
                wrong += 1
                notes.append(f"{phase}: dashboard differs from the recompute")
            latest = (rows.sort_values("ts").groupby("event_id").tail(1)
                      .set_index("event_id").sort_index())
            srv = (spark.read.parquet(d["serving"]).toPandas()
                   .set_index("event_id").sort_index())
            checked += 1
            if not (srv.index.equals(latest.index)
                    and (srv["value"].to_numpy() == latest["value"].to_numpy()).all()):
                wrong += 1
                notes.append(f"{phase}: serving table is not the latest row per id")
            wm = _sink_watermark(d["alerts"], os.path.join(d["ckpt"], "alerts"))
            closed = rows[rows["ws"] + np.timedelta64(1, "h") <= wm]
            per_user = closed.groupby(["ws", "user_id"]).size()
            want = per_user[per_user >= threshold].sort_index()
            alerts = spark.read.parquet(d["alerts"]).toPandas()
            alerts["ws"] = _naive_ns(alerts["ws"])
            got = alerts.set_index(["ws", "user_id"])["n"].sort_index()
            checked += 1
            if closed.empty:
                wrong += 1
                notes.append(f"{phase}: the watermark {wm} closed no window")
            elif not (got.index.equals(want.index)
                      and (got.to_numpy() == want.to_numpy()).all()):
                wrong += 1
                notes.append(f"{phase}: velocity alerts differ from the recompute "
                             f"({len(got)} emitted, {len(want)} expected)")
        return checked, wrong, notes


def _naive_ns(ts):
    """Timestamps as naive UTC nanoseconds, whatever reader made them."""
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[ns]")


def _sink_watermark(sink: str, ckpt: str) -> np.datetime64:
    """The watermark of the last batch the file sink at ``sink``
    committed, read from the query's offset log: the alerts readable
    from the sink are those of windows that ended at or before it."""
    meta = os.path.join(sink, "_spark_metadata")
    last = max((int(f.split(".")[0]) for f in os.listdir(meta) if f[0].isdigit()),
               default=None) if os.path.isdir(meta) else None
    if last is None:  # nothing committed: no window counts as closed
        return np.datetime64(0, "ns")
    with open(os.path.join(ckpt, "offsets", str(last))) as fh:
        ms = json.loads(fh.read().splitlines()[1])["batchWatermarkMs"]
    return np.datetime64(int(ms), "ms").astype("datetime64[ns]")


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") and not isinstance(p, dict)
            else dict(p) for p in q.recentProgress]


def _batch_span(p: dict) -> tuple[float, float]:
    """Wall-clock (start, commit) of the micro-batch ``p`` reports."""
    from datetime import datetime

    t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return t, t + p["durationMs"].get("triggerExecution", 0) / 1e3


def _file_commits(ckpt: str, progress: dict) -> dict[str, float]:
    """File name -> wall time at which the last of the queries committed
    the batch that read it (trigger start + triggerExecution).  Files
    some query never committed are absent."""
    per_query = []
    for name, ps in progress.items():
        end = {p["batchId"]: _batch_span(p)[1] for p in ps}
        done = {}
        log = os.path.join(ckpt, name, "sources", "0")
        for fname in os.listdir(log):
            if fname.startswith("."):
                continue
            with open(os.path.join(log, fname)) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    if entry["batchId"] in end:
                        done[os.path.basename(entry["path"])] = end[entry["batchId"]]
        per_query.append(done)
    return {f: max(done[f] for done in per_query) for f in per_query[0]
            if all(f in done for done in per_query)}


# ------------------------------------------------------------ txstore mixed

STORE_BATCH_ROWS = 20
STORE_LOOKUPS_PER_APPEND = 8
STORE_CYCLES_PER_TABLE = 12
STORE_DUP_FRAC = 0.05
CURRENCIES = ("EUR", "GBP", "KES", "NGN", "USD")
TX_TYPES = ("credit", "debit", "transfer")
LOOKUP_FIELDS = ("transaction_id", "user_id", "amount", "currency", "type", "timestamp")


class TxStore:
    """Closed loop, one client, on the reference's own verbs.

    A cycle is one ``append`` of a generated batch, then lookups of
    seed-drawn ids (skewed toward recent appends), with a ``count`` every
    third cycle and a ``list_all`` every sixth; once an id repeats, one
    lookup per cycle targets a repeated id.  Every
    ``STORE_CYCLES_PER_TABLE`` cycles the client moves to a new, empty
    table, so each table goes through the same growth whatever the
    speed of the run.  A share of appended ids repeats an earlier id;
    ``lookup`` must return the first one appended."""

    def __init__(self, run: Run):
        self.run = run
        self.rng = np.random.default_rng(run.seed)
        self.n_tables = 0
        self.wrong_notes: list[str] = []
        self.checked = 0
        self.wrong = 0

    def _store(self):
        from financialtransactionmonitoringsystem_spark.api import TransactionStore

        self.n_tables += 1
        return TransactionStore(self.run.spark, os.path.join(
            self.run.work, "store", f"t{self.n_tables:04d}"))

    def _batch(self, first: dict, n_seen: int) -> list[dict]:
        rng, rows = self.rng, []
        for _ in range(STORE_BATCH_ROWS):
            if first and rng.random() < STORE_DUP_FRAC:
                tid = list(first)[int(rng.integers(0, len(first)))]
            else:
                tid = f"tx-{self.run.seed}-{n_seen + len(rows):08d}-{int(rng.integers(1 << 30)):x}"
            ts = np.datetime64("2024-01-01T00:00:00", "us") + \
                np.timedelta64(int(rng.integers(0, 30 * 86_400_000_000)), "us")
            rows.append({
                "transaction_id": tid,
                "user_id": int(rng.integers(0, 5000)),
                "amount": float(np.round(rng.exponential(80.0), 2)),
                "currency": CURRENCIES[int(rng.integers(len(CURRENCIES)))],
                "type": TX_TYPES[int(rng.integers(len(TX_TYPES)))],
                "metadata": {"channel": ("web", "app", "pos")[int(rng.integers(3))]},
                "timestamp": str(ts) + "Z",
            })
        return rows

    def setup_once(self) -> None:
        pass

    def prepare(self) -> None:
        """Every verb once, on a fresh table."""
        store = self._store()
        rows = self._batch({}, 0)
        store.append(rows)
        store.lookup(rows[0]["transaction_id"]).collect()
        store.count()
        store.list_all().select("transaction_id").collect()

    def measure(self, seconds: float) -> Samples:
        tr = self.run.tracer
        lat: dict[str, list[float]] = {"append": [], "lookup": [], "count": [],
                                       "list_all": []}
        failed = attempted = 0
        t_begin = time.perf_counter()
        deadline = t_begin + seconds
        cycle = 0
        store, first, order, repeated = None, {}, [], []

        def op(verb: str, fn):
            nonlocal failed, attempted
            attempted += 1
            req = f"{verb}#{attempted}"
            t0 = time.perf_counter()
            try:
                with tr.span(f"api.{verb}", request=req), \
                        job_group(self.run.spark, tr, req):
                    out = fn()
            except Exception as exc:  # noqa: BLE001 - counted, the loop goes on
                failed += 1
                print(f"perfbench: {verb} failed: {exc!r}"[:500], flush=True)
                return None
            lat[verb].append((time.perf_counter() - t0) * 1e3)
            return out

        while time.perf_counter() < deadline or cycle == 0:
            if cycle % STORE_CYCLES_PER_TABLE == 0:
                store, first, order, repeated = self._store(), {}, [], []
            rows = self._batch(first, len(order))
            if op("append", lambda: store.append(rows)) is not None:
                for r in rows:
                    if r["transaction_id"] in first:
                        repeated.append(r["transaction_id"])
                    first.setdefault(r["transaction_id"], r)
                    order.append(r["transaction_id"])
            ids = list(first)
            for i in range(STORE_LOOKUPS_PER_APPEND):
                if i == 0 and repeated:
                    # one lookup per cycle hits a repeated id: first match wins
                    tid = repeated[int(self.rng.integers(len(repeated)))]
                else:
                    # skewed toward recent ids: an exponential distance back
                    back = int(self.rng.exponential(len(ids) / 4))
                    tid = ids[max(0, len(ids) - 1 - back)]
                got = op("lookup", lambda: store.lookup(tid).collect())
                if got is not None:
                    self.checked += 1
                    if len(got) != 1 or any(got[0][k] != first[tid][k]
                                            for k in LOOKUP_FIELDS):
                        self.wrong += 1
                        self.wrong_notes.append(f"lookup {tid}: {got}"[:300])
            if cycle % 3 == 2:
                n = op("count", store.count)
                self.checked += 1
                if n != len(order):
                    self.wrong += 1
                    self.wrong_notes.append(f"count {n} != {len(order)} appended")
            if cycle % 6 == 5:
                got = op("list_all", lambda: store.list_all()
                         .select("transaction_id").collect())
                self.checked += 1
                if got is None or [r[0] for r in got] != order:
                    self.wrong += 1
                    self.wrong_notes.append("list_all is not in append order")
            cycle += 1
        elapsed = time.perf_counter() - t_begin
        ops = [v for vs in lat.values() for v in vs]
        files = [f for f in os.listdir(store.path) if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(store.path, f)) for f in files)
        return Samples(
            ops_ms=ops, throughput=len(ops) / elapsed,
            attempted=attempted, failed=failed,
            extra={"append_p50_ms": (pct(lat["append"], 50), "ms"),
                   "append_p90_ms": (pct(lat["append"], 90), "ms"),
                   "lookup_p50_ms": (pct(lat["lookup"], 50), "ms"),
                   "lookup_p95_ms": (pct(lat["lookup"], 95), "ms"),
                   "store_ops_per_s": (len(ops) / elapsed, "1/s")},
            layers={"api.append_ms": median(tr.durations_ms("api.append")),
                    "api.lookup_ms": median(tr.durations_ms("api.lookup")),
                    "api.list_all_ms": median(tr.durations_ms("api.list_all")),
                    "api.table_files": len(files),
                    "api.bytes_per_row": size / max(1, len(order)),
                    "json_ingest.ingest_rows_ms":
                        median(tr.durations_ms("json_ingest.ingest_rows"))})

    def check(self) -> tuple[int, int, list[str]]:
        """Lookups, counts and listings were checked as they returned."""
        return self.checked, self.wrong, self.wrong_notes


WORKLOADS = {
    "analytics": Analytics,
    "ingest_stream": IngestStream,
    "txstore_mixed": TxStore,
}

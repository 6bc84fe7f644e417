"""Traced-run instrumentation, kept entirely outside the program.

- :class:`Tracer` records spans in memory (name, start, end, parent,
  operation id) around public functions of the program, by replacing
  each function in every program module that binds it by name
  (``streaming.pipeline`` imports ``keyed_upsert_sink`` and
  ``read_state`` at import; ``upsert_batch`` looks ``read_state`` and
  ``write_version`` up through its module globals).
- :class:`ProgressLog` is a ``StreamingQueryListener`` collecting Spark's
  own per-batch progress (trigger phases, state-store metrics).
- :class:`SparkRest` reads job, stage and SQL metrics from the Spark UI
  REST API on localhost, which the traced run enables.

Plan-only calls (``latest_by_offset``, ``enrich``,
``watermarked_interval_join``) are not wrapped: their work runs later,
inside ``write_version`` and ``addBatch``.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import json
import os
import re
import sys
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

PKG = "trainee_scala_module_8_kafka_streaming_etl_pipeline_spark"


def q_of(state_dir: str) -> str:
    """Pipeline query a state table belongs to."""
    return "customers" if "customers" in os.path.basename(state_dir.rstrip("/")) else "shipped"


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    n = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            n += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    return n


class Tracer:
    """In-memory spans and counters, and the wrappers that record them."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.gauges: dict[str, float] = {}
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._thread_stack()
                self.rec = {"name": name, "start": time.perf_counter(), "end": None,
                            "parent": stack[-1] if stack else None,
                            "op": tracer.op, **attrs}
                with tracer._lock:
                    tracer.spans.append(self.rec)
                    stack.append(len(tracer.spans) - 1)
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.perf_counter()
                tracer._thread_stack().pop()
                return False

        return _Span()

    def _thread_stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def gauge(self, key: str, value: float) -> None:
        with self._lock:
            self.gauges[key] = value

    # -- wrapping ------------------------------------------------------
    def wrap(self, module_name: str, attr: str, make_wrapper) -> None:
        """Replace ``module.attr`` in every program module bound to it."""
        orig = getattr(importlib.import_module(module_name), attr)
        wrapped = make_wrapper(orig)
        functools.update_wrapper(wrapped, orig)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == "__spark_entry__" or name.startswith(PKG)):
                continue
            for a, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, a, wrapped)
                    self._patched.append((mod, a, orig))

    def uninstall(self) -> None:
        for mod, a, orig in reversed(self._patched):
            setattr(mod, a, orig)
        self._patched.clear()

    def install(self) -> None:
        """Wrap the program's public layer entry points."""
        importlib.import_module("__spark_entry__")  # binds most names at import
        up = f"{PKG}.streaming.upsert"
        tr = self

        def timed(name, key_fn=None, after=None):
            def make(orig):
                def w(*a, **kw):
                    q = key_fn(*a, **kw) if key_fn else None
                    with tr.span(name, q=q):
                        out = orig(*a, **kw)
                    tr.count(f"{name}.{q}.calls" if q else f"{name}.calls")
                    if after:
                        after(q, *a, **kw)
                    return out
                return w
            return make

        def after_write(q, df, state_dir, *a, **kw):
            with open(os.path.join(state_dir, "_LATEST")) as fh:
                v = fh.read().strip()
            rows = parquet_rows(os.path.join(state_dir, f"v={v}"))
            tr.count(f"upsert.{q}.rows_written", rows)
            tr.gauge(f"upsert.{q}.state_rows", rows)

        self.wrap(f"{PKG}.catalog", "load", timed("catalog.load"))
        self.wrap(up, "read_state", timed("upsert.read_state", lambda spark, d: q_of(d)))
        self.wrap(up, "write_version", timed(
            "upsert.write_version", lambda df, d, *a, **kw: q_of(d), after_write))
        self.wrap(up, "vacuum_versions", timed(
            "upsert.vacuum", lambda d, *a, **kw: q_of(d)))

        def make_factory(orig):
            def factory(state_dir, *a, **kw):
                sink = orig(state_dir, *a, **kw)
                q = q_of(state_dir)

                def traced_sink(batch_df, batch_id):
                    with tr.span("upsert.sink", q=q):
                        sink(batch_df, batch_id)
                    tr.count(f"upsert.{q}.calls")
                return traced_sink
            return factory

        self.wrap(up, "keyed_upsert_sink", make_factory)

    # -- summaries -----------------------------------------------------
    def self_times(self, op: str) -> dict[str, float]:
        """Seconds per span name (and ``name.q``) of one operation, minus
        the time of child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None or s["op"] != op:
                continue
            key = f"{s['name']}.{s['q']}" if s.get("q") else s["name"]
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - child.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s))
                fh.write("\n")


class ProgressLog(StreamingQueryListener):
    """Every progress event of every streaming query, as parsed JSON."""

    def __init__(self):
        self.events: list[dict] = []
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        rec = json.loads(event.progress.json)
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated += 1

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for ``n`` stops."""
        end = time.monotonic() + timeout
        while self.terminated < n and time.monotonic() < end:
            time.sleep(0.01)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> float:
    """First size in a SQL metric string ("total (min, med, max)\\n1.2 MiB ...")."""
    m = _SIZE.search(text.split("\n")[-1] if "\n" in text else text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _gmt(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()


class SparkRest:
    """Job, stage and SQL metrics of one application from the UI REST API."""

    def __init__(self, spark):
        base = spark.sparkContext.uiWebUrl.rstrip("/")
        self.base = f"{base}/api/v1/applications/{spark.sparkContext.applicationId}"
        self.last_job = -1
        self.last_sql = -1
        self.last_jobs: list[dict] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def mark(self) -> None:
        """Remember the newest job and SQL execution seen so far."""
        jobs = self._get("/jobs")
        self.last_job = max([j["jobId"] for j in jobs], default=-1)
        sql = self._get("/sql?details=false&length=100000")
        self.last_sql = max([s["id"] for s in sql], default=-1)

    def since_mark(self, t0: float, t1: float) -> dict[str, float]:
        """Metrics of every job and SQL execution started since :meth:`mark`;
        ``t0``/``t1`` are the operation's wall-clock bounds."""
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
        self.last_jobs = jobs
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in stage_ids and s.get("status") == "COMPLETE"]
        # wall time of the operation that no job covered
        spans = []
        for j in jobs:
            if "submissionTime" in j and "completionTime" in j:
                a, b = max(t0, _gmt(j["submissionTime"])), min(t1, _gmt(j["completionTime"]))
                if b > a:
                    spans.append((a, b))
        covered, end = 0.0, t0
        for a, b in sorted(spans):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        py = 0.0
        for s in self._get(f"/sql?details=true&planDescription=false&offset={self.last_sql + 1}&length=100000"):
            if s["id"] <= self.last_sql:
                continue
            for node in s.get("nodes", []):
                for m in node.get("metrics", []):
                    if "Python workers" in m.get("name", ""):
                        py += _parse_size(str(m.get("value", "")))
        run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "spark.driver_s": max(0.0, (t1 - t0) - covered),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "spark.input_bytes": sum(s.get("inputBytes", 0) for s in stages),
            "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spark.python_bytes": py,
        }


# metric name -> durationMs key of a streaming progress event
STREAM_PHASES = {"trigger": "triggerExecution", "addBatch": "addBatch",
                 "walCommit": "walCommit", "commitOffsets": "commitOffsets",
                 "queryPlanning": "queryPlanning", "getBatch": "getBatch",
                 "latestOffset": "latestOffset"}
QUERIES = ("customers", "shipped")


def _stream_metrics(events: list[dict]) -> dict[str, float]:
    """Per-query sums over one round's progress events (gauges: last batch)."""
    out: dict[str, float] = {}
    for q in QUERIES:
        for k in ("batches", "nodata_batches", *[f"{p}_s" for p in STREAM_PHASES]):
            out[f"stream.{q}.{k}"] = 0.0
        for k in ("rows_total", "rows_updated", "rows_removed", "dropped_by_watermark",
                  "instances", "memory_bytes", "commit_task_s"):
            out[f"state.{q}.{k}"] = 0.0
    for ev in events:
        desc = (ev.get("sources") or [{}])[0].get("description", "")
        q = "customers" if "customers" in desc else "shipped"
        out[f"stream.{q}.batches"] += 1
        out[f"stream.{q}.nodata_batches"] += ev.get("numInputRows", 0) == 0
        for p, key in STREAM_PHASES.items():
            out[f"stream.{q}.{p}_s"] += ev.get("durationMs", {}).get(key, 0) / 1e3
        for so in ev.get("stateOperators", []):
            out[f"state.{q}.rows_total"] = so.get("numRowsTotal", 0)
            out[f"state.{q}.instances"] = so.get("numStateStoreInstances", 0)
            out[f"state.{q}.memory_bytes"] = so.get("memoryUsedBytes", 0)
            out[f"state.{q}.rows_updated"] += so.get("numRowsUpdated", 0)
            out[f"state.{q}.rows_removed"] += so.get("numRowsRemoved", 0)
            out[f"state.{q}.dropped_by_watermark"] += so.get("numRowsDroppedByWatermark", 0)
            out[f"state.{q}.commit_task_s"] += so.get("commitTimeMs", 0) / 1e3
    return out


class TracedRun:
    """Per-operation layer metrics for a traced run.

    Operations alternate between traced (wrappers installed, Spark metrics
    read) and untraced, so one run also measures the tracing overhead.
    """

    GAUGES = ("state.customers.rows_total", "state.shipped.rows_total",
              "state.customers.instances", "state.shipped.instances",
              "state.customers.memory_bytes", "state.shipped.memory_bytes",
              "upsert.customers.state_rows", "upsert.shipped.state_rows",
              "source.files")

    def __init__(self, spark):
        self.tracer = Tracer()
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress)
        self.rest = SparkRest(spark)
        self.cores = spark.sparkContext.defaultParallelism
        self.ops: list[dict] = []  # traced operations, after the cold one
        self.times: list[tuple[str, bool, float]] = []  # (group, traced, sec) of warm ops
        self.expected_stops = 0
        self._counts0: dict[str, float] = {}

    def begin(self, op: str, traced: bool) -> None:
        self.tracer.op = op
        self.build_end = None
        if traced:
            self.tracer.install()
            self.rest.mark()
            self.progress.take()
            self._counts0 = dict(self.tracer.counts)
        self.t0 = time.time()

    def mark_build_end(self) -> None:
        self.build_end = time.time()

    def end(self, op: str, traced: bool, warm: bool, sec: float,
            rounds_landed: int | None = None, changed: dict[str, int] | None = None) -> None:
        t1 = time.time()
        streaming = rounds_landed is not None
        if streaming:
            self.expected_stops += 2
            self.progress.wait_terminated(self.expected_stops)
        if warm:
            self.times.append(("round" if streaming else op.split("#")[0], traced, sec))
        if not traced:
            return
        self.tracer.uninstall()
        exec_t0 = self.build_end or self.t0
        m = self.rest.since_mark(exec_t0, t1)
        m["spark.exec_s"] = t1 - exec_t0
        m["spark.busy_share"] = m["spark.executor_run_s"] / max(1e-9, m["spark.exec_s"] * self.cores)
        selfs = self.tracer.self_times(op)
        counts = {k: v - self._counts0.get(k, 0) for k, v in self.tracer.counts.items()}
        m["catalog.load_calls"] = counts.get("catalog.load.calls", 0)
        m["catalog.load_s"] = selfs.get("catalog.load", 0.0)
        m["entry.build_s"] = selfs.get("entry.build", 0.0)
        if self.build_end is not None:
            m["entry.eager_jobs"] = sum(
                1 for j in self.rest.last_jobs
                if _gmt(j["submissionTime"]) <= self.build_end)
        if streaming:
            events = self.progress.take()
            m.update(_stream_metrics(events))
            m["pipeline.round_s"] = sec
            m["pipeline.start_stop_s"] = sec - sum(
                e.get("durationMs", {}).get("triggerExecution", 0) for e in events) / 1e3
            m["source.files"] = 3 * rounds_landed
            for q in QUERIES:
                m[f"upsert.{q}.sink_s"] = selfs.get(f"upsert.sink.{q}", 0.0)
                m[f"upsert.{q}.read_state_s"] = selfs.get(f"upsert.read_state.{q}", 0.0)
                m[f"upsert.{q}.write_version_s"] = selfs.get(f"upsert.write_version.{q}", 0.0)
                m[f"upsert.{q}.vacuum_s"] = selfs.get(f"upsert.vacuum.{q}", 0.0)
                m[f"upsert.{q}.calls"] = counts.get(f"upsert.{q}.calls", 0)
                m[f"upsert.{q}.commits"] = counts.get(f"upsert.write_version.{q}.calls", 0)
                m[f"upsert.{q}.state_rows"] = self.tracer.gauges.get(f"upsert.{q}.state_rows", 0)
                m[f"upsert.{q}.rewrite_amplification"] = (
                    counts.get(f"upsert.{q}.rows_written", 0) / max(1, changed[q]))
        if warm:
            self.ops.append(m)

    def summary(self) -> dict[str, float]:
        """Means over traced warm operations (gauges: the last one), plus
        the tracing overhead."""
        out: dict[str, float] = {}
        for m in self.ops:
            for k, v in m.items():
                out[k] = out.get(k, 0.0) + v
        for k in out:
            out[k] = self.ops[-1][k] if k in self.GAUGES else out[k] / len(self.ops)
        groups: dict[str, dict[bool, list[float]]] = {}
        for g, traced, sec in self.times:
            groups.setdefault(g, {True: [], False: []})[traced].append(sec)
        both = [v for v in groups.values() if v[True] and v[False]]
        if both:
            import statistics

            t = sum(statistics.median(v[True]) for v in both)
            u = sum(statistics.median(v[False]) for v in both)
            out["trace.overhead_share"] = t / u - 1
        return out

"""Traced-run machinery: spans around the layers' public functions, Spark
event-log parsing, and the per-layer metrics built from both.

The wrappers are installed from outside the package, by the benchmark's
server launcher, before the server is built.  Each one patches a name where
it is looked up at call time (``http.handle_read_request``,
``service.read_query_df``, ``service.row_to_timeseries``,
``writer.write_request_rows``, the ``codec`` module attributes, the
``AdapterApp`` / ``TimeseriesWriter`` / ``SamplesStore`` methods and
``read_plan._expr_memo``), so package code runs unchanged.

Spans of one request share the id the load generator sent in the
``X-Bench-Request`` header; the same id is set as the Spark local property
:data:`JOB_TAG` around ``AdapterApp.handle_*`` so the event log ties each
Spark job to its request.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import Counter, defaultdict

REQUEST_HEADER = "X-Bench-Request"
JOB_TAG = "perfbench.request"


class SpanRecorder:
    """In-memory spans ``(id, name, start, end, parent, request)`` with
    wall-clock seconds (comparable with the event log's epoch ms), plus
    per-request counters.  Nothing is recorded until :meth:`enable`; a
    request is recorded whole or not at all, as decided when it begins."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def enable(self) -> None:
        self.enabled = True

    def disable(self) -> None:
        self.enabled = False

    def begin_request(self, rid: str | None) -> None:
        self._local.request = rid
        self._local.active = self.enabled

    def end_request(self) -> None:
        self._local.request = None
        del self._local.active

    @property
    def request(self) -> str | None:
        return getattr(self._local, "request", None)

    def active(self) -> bool:
        """Whether this thread's current request (or, outside a request,
        this moment) is being recorded."""
        return getattr(self._local, "active", self.enabled)

    def count(self, name: str, n: float = 1.0) -> None:
        if self.active():
            with self._lock:
                self.counters[f"{name}|{self.request}"] += n

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        if not self.active():
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, start, end, parent, self.request))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": dict(self.counters)}, f)


def _wrap(rec: SpanRecorder, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        out = rec.call(name, fn, *args, **kwargs)
        if after is not None and rec.active():
            after(args, out)
        return out

    return wrapper


def install_server_wrappers(rec: SpanRecorder, store_path: str) -> None:
    from pyspark import SparkContext

    from remote_tsdb_clickhouse_spark import codec
    from remote_tsdb_clickhouse_spark.plans import read_plan
    from remote_tsdb_clickhouse_spark.server import http, service
    from remote_tsdb_clickhouse_spark.sources import samples_store, writer

    make_handler = http.make_handler

    def traced_make_handler(app):
        base = make_handler(app)

        class Handler(base):
            def _traced(self):
                rec.begin_request(self.headers.get(REQUEST_HEADER))
                try:
                    rec.call("http.request", base._dispatch, self)
                finally:
                    rec.end_request()

            do_GET = do_POST = _traced

        return Handler

    http.make_handler = traced_make_handler

    def tagged(name, fn):
        def handle(self, *args):
            sc = SparkContext._active_spark_context
            sc.setLocalProperty(JOB_TAG, rec.request)
            try:
                return rec.call(name, fn, self, *args)
            finally:
                sc.setLocalProperty(JOB_TAG, None)

        return handle

    http.AdapterApp.handle_write = tagged("app.handle_write", http.AdapterApp.handle_write)
    http.AdapterApp.handle_read = tagged("app.handle_read", http.AdapterApp.handle_read)

    codec.decode_write_request = _wrap(
        rec, "codec.decode_write", codec.decode_write_request,
        lambda a, _: rec.count("codec.request_bytes.write", len(a[0])),
    )
    codec.decode_read_request = _wrap(
        rec, "codec.decode_read", codec.decode_read_request,
        lambda a, _: rec.count("codec.request_bytes.read", len(a[0])),
    )
    codec.encode_read_response = _wrap(
        rec, "codec.encode_read", codec.encode_read_response,
        lambda _, out: rec.count("codec.response_bytes", len(out)),
    )
    http.handle_read_request = _wrap(rec, "service.handle", http.handle_read_request)
    service.read_query_df = _wrap(rec, "plan.build", service.read_query_df)

    def assembled(_, ts):
        rec.count("service.series_returned")
        rec.count("service.samples_returned", len(ts.samples))

    service.row_to_timeseries = _wrap(rec, "service.assemble", service.row_to_timeseries, assembled)
    writer.write_request_rows = _wrap(
        rec, "writer.flatten", writer.write_request_rows,
        lambda _, rows: rec.count("writer.rows", len(rows)),
    )
    writer.TimeseriesWriter.write = _wrap(rec, "writer.write", writer.TimeseriesWriter.write)
    samples_store.SamplesStore.append = _wrap(rec, "store.append", samples_store.SamplesStore.append)

    def listed(_a, _out):
        rec.count("store.reads")
        rec.count("store.files", sum(
            f.endswith(".parquet") for _, _, fs in os.walk(store_path) for f in fs
        ))

    samples_store.SamplesStore.read = _wrap(rec, "store.read", samples_store.SamplesStore.read, listed)

    memo = read_plan._expr_memo

    def counting_memo(key, build):
        built = []

        def counted_build():
            built.append(1)
            return build()

        out = memo(key, counted_build)
        rec.count("plan.memo_calls")
        rec.count("plan.memo_builds", len(built))
        return out

    read_plan._expr_memo = counting_memo


# -- analysis -------------------------------------------------------------------


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sid, _, start, end, parent, _ in spans:
        if parent is not None:
            children[parent].append((start, end))
    out = {}
    for sid, _, start, end, _, _ in spans:
        covered = 0.0
        cur_start = cur_end = None
        for s, e in sorted(children.get(sid, ())):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sid] = (end - start) - covered
    return out


def _events(event_dir: str):
    """Parsed events of the rolling event log under ``spark.eventLog.dir``:
    each application's ``events_<n>_<app>`` files, in order."""
    for d, _, fs in sorted(os.walk(event_dir)):
        for _, f in sorted((int(f.split("_")[1]), f) for f in fs if f.startswith("events_")):
            with open(os.path.join(d, f)) as fh:
                for line in fh:
                    yield json.loads(line)


def parse_event_log(event_dir: str) -> list[dict]:
    """Spark JSON event log -> one dict per job: request tag, submission
    ms, and task totals (count, executor run, GC, scheduler
    delay, shuffle read+write bytes, input records)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "request": (ev.get("Properties") or {}).get(JOB_TAG),
                "submitted": ev.get("Submission Time"),
                "tasks": 0, "run_ms": 0, "gc_ms": 0, "sched_ms": 0,
                "shuffle_bytes": 0, "records_read": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            job["tasks"] += 1
            job["run_ms"] += m.get("Executor Run Time", 0)
            job["gc_ms"] += m.get("JVM GC Time", 0)
            submitted = stage_submit.get(ev["Stage ID"])
            if submitted:
                job["sched_ms"] += max(info["Launch Time"] - submitted, 0)
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            job["shuffle_bytes"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            job["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return list(jobs.values())


def layer_metrics(trace: dict, jobs: list[dict], client: dict[str, float]) -> dict:
    """Per-layer metrics, each averaged per request of the kind that uses
    the layer (a layer a workload bypasses reads 0).

    ``client`` maps request id -> client-side latency in s.  The requests
    measured are those whose ``AdapterApp.handle_*`` span was recorded.
    """
    spans = [tuple(s) for s in trace["spans"]]
    selfs = self_times(spans)
    kind_of = {
        rid: name[len("app.handle_"):]
        for _, name, _, _, _, rid in spans
        if name.startswith("app.handle_") and rid in client
    }
    n = Counter(kind_of.values())
    counters: dict[str, float] = defaultdict(float)
    for key, value in trace["counters"].items():
        name, _, rid = key.partition("|")
        if rid in kind_of:
            counters[name] += value

    tot: dict[str, float] = defaultdict(float)
    handle: dict[str, float] = {}
    append_start: dict[str, float] = {}
    for sid, name, start, end, _, rid in spans:
        if rid not in kind_of:
            continue
        tot[name] += end - start
        tot[name + ".self"] += selfs[sid]
        if name.startswith("app.handle_"):
            handle[rid] = end - start
        if name == "store.append":
            append_start.setdefault(rid, start)

    def per(kind: str, value: float) -> float:
        return value / n[kind] if n[kind] else 0.0

    overhead = [client[rid] - h for rid, h in handle.items()]
    ms = 1000.0
    out = {
        "http.overhead_ms": ms * sum(overhead) / len(overhead) if overhead else 0.0,
        "app.handle_write_ms": ms * per("write", tot["app.handle_write"]),
        "app.handle_read_ms": ms * per("read", tot["app.handle_read"]),
        "codec.decode_write_ms": ms * per("write", tot["codec.decode_write"]),
        "codec.decode_read_ms": ms * per("read", tot["codec.decode_read"]),
        "codec.encode_read_ms": ms * per("read", tot["codec.encode_read"]),
        "codec.request_bytes": per("write", counters.get("codec.request_bytes.write", 0))
        + per("read", counters.get("codec.request_bytes.read", 0)),
        "codec.response_bytes": per("read", counters.get("codec.response_bytes", 0)),
        "writer.flatten_ms": ms * per("write", tot["writer.flatten"]),
        "writer.write_ms": ms * per("write", tot["writer.write"]),
        "writer.write_self_ms": ms * per("write", tot["writer.write.self"]),
        "writer.rows": per("write", counters.get("writer.rows", 0)),
        "store.append_ms": ms * per("write", tot["store.append"]),
        "store.read_ms": ms * per("read", tot["store.read"]),
        "store.files": counters.get("store.files", 0) / max(counters.get("store.reads", 0), 1),
        "plan.build_ms": ms * per("read", tot["plan.build"]),
        "plan.memo_hit_ratio": (
            1.0 - counters.get("plan.memo_builds", 0) / counters["plan.memo_calls"]
            if counters.get("plan.memo_calls") else 0.0
        ),
        "service.handle_ms": ms * per("read", tot["service.handle"]),
        "service.handle_self_ms": ms * per("read", tot["service.handle.self"]),
        "service.assemble_ms": ms * per("read", tot["service.assemble"]),
        "service.series_returned": per("read", counters.get("service.series_returned", 0)),
        "service.samples_returned": per("read", counters.get("service.samples_returned", 0)),
    }

    mine = [j for j in jobs if j["request"] in kind_of]
    by_kind: dict[str, list[dict]] = defaultdict(list)
    for j in mine:
        by_kind[kind_of[j["request"]]].append(j)
    waits = []
    for rid, start in append_start.items():
        subs = [j["submitted"] for j in by_kind["write"] if j["request"] == rid
                and j["submitted"] and j["submitted"] >= start * 1000 - 1]
        if subs:
            waits.append(min(subs) - start * 1000)
    samples_returned = counters.get("service.samples_returned", 0)
    n_all = n["write"] + n["read"]
    out.update({
        "store.append_wait_ms": sum(waits) / len(waits) if waits else 0.0,
        "spark.jobs_per_write": per("write", len(by_kind["write"])),
        "spark.jobs_per_read": per("read", len(by_kind["read"])),
        "spark.tasks_per_write": per("write", sum(j["tasks"] for j in by_kind["write"])),
        "spark.tasks_per_read": per("read", sum(j["tasks"] for j in by_kind["read"])),
        "spark.executor_run_ms": sum(j["run_ms"] for j in mine) / n_all if n_all else 0.0,
        "spark.sched_delay_ms": sum(j["sched_ms"] for j in mine) / n_all if n_all else 0.0,
        "spark.gc_ms": sum(j["gc_ms"] for j in mine) / n_all if n_all else 0.0,
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in mine) / n_all if n_all else 0.0,
        "spark.rows_scanned_per_sample_returned": (
            sum(j["records_read"] for j in by_kind["read"]) / samples_returned
            if samples_returned else 0.0
        ),
    })
    return out

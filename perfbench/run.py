"""Serving-path benchmark for the remote-storage adapter.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Starts the adapter as its own process (``perfbench/serve.py``), drives it
over loopback HTTP from this single process with seeded remote-write /
remote-read traffic (``perfbench/traffic.py``), checks every response and
the stored rows against an independent model (``perfbench/oracle.py``),
and prints one JSON object as the last line of stdout.  With ``--trace 0``
it carries the end-to-end metrics; with ``--trace 1`` the per-layer metrics
of a traced server (``perfbench/tracing.py``).  Workloads, metrics and the
layer map are documented in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.tracing import REQUEST_HEADER  # noqa: E402

WORKLOADS = ("ingest", "dashboard_read")

#: 100 targets x 25 series: a batch is 4 scrapes of every series.
INGEST_TARGETS = 100
#: 40 targets x 25 series: the read store.
READ_TARGETS = 40
#: Bulk history for the read store: 20:00 on day 0 to 04:00 on day 1 (two
#: date partitions) at the write path's scrape interval (``traffic.SCRAPE_MS``).
PRELOAD_SPAN_S = (20 * 3600, 28 * 3600)
PRELOAD_STEP_S = 15
CLIENTS = 2
#: Warm-up requests, sent by the workload's clients before the window:
#: enough for request latency to stop falling as the JIT settles.
WARM_WRITES = 8
WARM_READS = 16
#: Requests built before the server starts, per second of the window;
#: any further ones are built when a client asks for them.
PREBUILT_WRITES_PER_S = 2.5
PREBUILT_READS_PER_S = 10
#: A traced run alternates span recording off/on over this many slices.
TRACE_SLICES = 4
READY_TIMEOUT_S = 150.0
REQUEST_TIMEOUT_S = 120.0


#: The end-to-end metrics, reported by every workload with ``--trace 0``.
END_TO_END = {
    "latency_p50_ms": "ms",
    "requests_per_s": "1/s",
    "cpu_ms_per_request": "ms",
    "setup_s": "s",
    "live_heap_mb": "MB",
    "store_bytes_per_sample": "bytes",
}

#: The per-layer metrics, reported by every workload with ``--trace 1``
#: (``tracing.layer_metrics`` plus the last two).
LAYER_UNITS = {
    "http.overhead_ms": "ms",
    "app.handle_write_ms": "ms",
    "app.handle_read_ms": "ms",
    "codec.decode_write_ms": "ms",
    "codec.decode_read_ms": "ms",
    "codec.encode_read_ms": "ms",
    "codec.request_bytes": "bytes",
    "codec.response_bytes": "bytes",
    "writer.flatten_ms": "ms",
    "writer.write_ms": "ms",
    "writer.write_self_ms": "ms",
    "writer.rows": "count",
    "store.append_ms": "ms",
    "store.append_wait_ms": "ms",
    "store.read_ms": "ms",
    "store.files": "count",
    "plan.build_ms": "ms",
    "plan.memo_hit_ratio": "ratio",
    "service.handle_ms": "ms",
    "service.handle_self_ms": "ms",
    "service.assemble_ms": "ms",
    "service.series_returned": "count",
    "service.samples_returned": "count",
    "spark.jobs_per_write": "count",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_write": "count",
    "spark.tasks_per_read": "count",
    "spark.executor_run_ms": "ms",
    "spark.sched_delay_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "spark.rows_scanned_per_sample_returned": "ratio",
    "store.bytes_per_sample": "bytes",
    "trace.overhead_ms": "ms",
}


# -- the server process -------------------------------------------------------


def _group_members(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(d))
    return out


class ServerProcess:
    """``perfbench/serve.py`` in its own process group (the Python server,
    its JVM and any Python workers), so stopping it stops all of them."""

    def __init__(self, work: str, store: str, *, preload: str | None, trace: bool):
        self.work = work
        self.ready = os.path.join(work, "ready.json")
        self.heap_out = os.path.join(work, "heap.json")
        self.trace_out = os.path.join(work, "spans.json") if trace else None
        self.event_dir = os.path.join(work, "events") if trace else None
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        confs = ["spark.ui.showConsoleProgress=false"]
        if trace:
            os.makedirs(self.event_dir)
            confs += [
                "spark.eventLog.enabled=true",
                "spark.eventLog.rolling.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir=file://{self.event_dir}",
            ]
        self.env = dict(
            os.environ,
            PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in confs) + " pyspark-shell",
            # both JVMs (spark-submit's launcher and the driver) keep their
            # temp and perf-data files inside the work dir
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            SPARK_LOCAL_DIRS=tmp,
            TMPDIR=tmp,
        )
        self.cmd = [
            sys.executable, os.path.join(HERE, "serve.py"),
            "--store", store, "--ready", self.ready, "--heap-out", self.heap_out,
        ]
        if preload:
            self.cmd += ["--preload", preload]
        if trace:
            self.cmd += ["--trace-out", self.trace_out]
        self.proc: subprocess.Popen | None = None
        self.port = 0

    def start(self) -> None:
        log = open(os.path.join(self.work, "server.log"), "w")
        self.proc = subprocess.Popen(
            self.cmd, cwd=self.work, env=self.env, stdout=log, stderr=log, start_new_session=True
        )
        log.close()
        deadline = time.monotonic() + READY_TIMEOUT_S
        while not os.path.exists(self.ready):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                with open(os.path.join(self.work, "server.log")) as f:
                    tail = f.read()[-3000:]
                raise RuntimeError(f"the server did not start; its log ends:\n{tail}")
            time.sleep(0.02)
        with open(self.ready) as f:
            self.port = json.load(f)["port"]

    def signal(self, sig: int) -> None:
        os.kill(self.proc.pid, sig)

    def peak_rss_mb(self) -> float:
        """VmHWM of the server process plus its JVM.  Forked Python workers
        are left out: they share most pages with their daemon, and how many
        are alive at the end is a matter of timing."""
        total = 0
        for pid in _group_members(self.proc.pid):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if pid != self.proc.pid and f.read().strip() != "java":
                        continue
                with open(f"/proc/{pid}/status") as f:
                    total += next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
            except OSError:
                pass
        return total / 1024

    def live_heap_mb(self) -> float:
        """The heap the server's JVM still used after a full collection at
        shutdown (``serve.live_heap_bytes``)."""
        with open(self.heap_out) as f:
            return json.load(f)["live_heap_bytes"] / 2**20

    def cpu_s(self) -> float:
        """CPU seconds used so far by the process group: each live member's
        own time plus that of the children it has reaped (forked Python
        workers that came and went)."""
        ticks = 0
        for pid in _group_members(self.proc.pid):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ticks / os.sysconf("SC_CLK_TCK")

    def stop(self) -> None:
        if self.proc is None:
            return
        pgid = self.proc.pid
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 30
        while _group_members(pgid) and time.monotonic() < deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        self.proc.wait()
        self.proc = None


# -- the load generator -------------------------------------------------------


_request_ids = itertools.count()


class Call:
    """One HTTP request and what came back.  ``payload`` is the
    ``traffic.WriteBatch`` or ``traffic.ReadCall`` sent."""

    __slots__ = ("kind", "rid", "payload", "start", "end", "status", "body", "traced")

    def __init__(self, kind: str, payload, traced: bool = False):
        self.kind, self.payload, self.traced = kind, payload, traced
        self.rid = f"{kind}-{next(_request_ids)}"
        self.start = self.end = 0.0
        self.status = 0
        self.body = b""

    @property
    def latency(self) -> float:
        return self.end - self.start


class Client:
    """One keep-alive loopback connection."""

    def __init__(self, port: int):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)

    def send(self, call: Call) -> Call:
        call.start = time.perf_counter()
        try:
            self.conn.request("POST", "/" + call.kind, call.payload.body, {REQUEST_HEADER: call.rid})
            resp = self.conn.getresponse()
            call.body = resp.read()
            call.status = resp.status
        except (OSError, http.client.HTTPException):
            call.status = -1
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
        call.end = time.perf_counter()
        return call

    def get(self, path: str) -> bytes:
        self.conn.request("GET", path)
        return self.conn.getresponse().read()

    def close(self) -> None:
        self.conn.close()


def samples_written_total(client: Client) -> float:
    for line in client.get("/metrics").decode().splitlines():
        if line.startswith("samples_written_total "):
            return float(line.split()[1])
    raise ValueError("samples_written_total missing from /metrics")


class Feed:
    """Thread-safe cursor over requests ``make(k)`` for ``k`` from ``start``
    up to ``stop`` (no end if None).  The first ``prebuilt`` are built
    here; each later one is built by the client that takes it."""

    def __init__(self, make, start: int, stop: int | None = None, prebuilt: int = 0):
        self.make = make
        self.k = start
        self.stop = stop
        self.ready = {k: make(k) for k in range(start, start + prebuilt)}
        self.lock = threading.Lock()

    def next(self):
        with self.lock:
            if self.stop is not None and self.k >= self.stop:
                return None
            k = self.k
            self.k += 1
            item = self.ready.pop(k, None)
        return item if item is not None else self.make(k)


def closed_loop(port: int, n_clients: int, feed: Feed, kind: str, until: float, out: list, traced) -> None:
    """``n_clients`` callers that each wait for a reply before sending
    again, until ``until`` (perf_counter) or the feed ends."""

    def run():
        c = Client(port)
        try:
            while time.perf_counter() < until:
                item = feed.next()
                if item is None:
                    return
                out.append(c.send(Call(kind, item, traced=traced())))
        finally:
            c.close()

    threads = [threading.Thread(target=run) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# -- workloads ----------------------------------------------------------------


class Workload:
    """Traffic, store preparation and expected results for one workload:
    ``kind`` is the request it sends, ``warm`` and ``feed`` the warm-up and
    measured requests."""

    def __init__(self, name: str, seed: int, seconds: float, work: str):
        from perfbench import oracle, traffic

        self.preload = None
        self.n_preload = 0
        self.model = None
        if name == "ingest":
            self.series = traffic.series_model(seed, INGEST_TARGETS)
            self.written_from_s = 0
            start_ms = (traffic.DAY0_S + 3600) * 1000
            self.kind, n_warm, per_s = "write", WARM_WRITES, PREBUILT_WRITES_PER_S

            def make(k):
                return traffic.write_batch(seed, self.series, start_ms, k)
        else:
            self.series = traffic.series_model(seed, READ_TARGETS)
            self.model = oracle.ReadModel(self.series)
            lo, hi = (traffic.DAY0_S + s for s in PRELOAD_SPAN_S)
            self.preload = os.path.join(work, "preload.tsv")
            with open(self.preload, "w") as f:
                f.writelines(traffic.preload_tsv_lines(self.series, self._modelled(
                    traffic.preload_samples(seed, self.series, lo, hi, PRELOAD_STEP_S)
                )))
            # reads end a minute before the history does, so no read
            # depends on where the bulk load's last second falls
            self.written_from_s = hi
            now = hi - 60
            self.kind, n_warm, per_s = "read", WARM_READS, PREBUILT_READS_PER_S

            def make(k):
                return traffic.read_call(seed, READ_TARGETS, now, k)
        self._joined = [oracle.LABEL_SEP.join(s.joined()) for s in self.series]
        self.warm = Feed(make, 0, n_warm, prebuilt=n_warm)
        self.feed = Feed(make, n_warm, prebuilt=math.ceil(seconds * per_s))

    def _modelled(self, samples):
        """Pass the bulk-loaded samples through, adding each to the model."""
        for i, t, v in samples:
            self.model.add(i, t, v)
            self.n_preload += 1
            yield i, t, v

    def row(self, i: int, t_ms: int, value: float) -> tuple:
        """The stored row a written sample must become, as
        ``oracle.stored_rows`` lists it: labels in remote-write order,
        the timestamp truncated to seconds."""
        return (t_ms // 1000, self.series[i].name, self._joined[i], value)

    def written_rows(self, acked: list) -> Counter:
        return Counter(self.row(*x) for batch in acked for x in batch.samples)


# -- one run ------------------------------------------------------------------


@dataclass
class Window:
    """What one run measured."""

    calls: list  # warm-up and measured calls, every one checked
    measured: list  # the calls sent in the measured window
    setup_s: float
    elapsed: float  # window start to the last reply
    cpu_s: float  # server CPU used in the window
    written: float  # samples_written_total delta over the run
    peak_rss_mb: float


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def measure(args, wl: Workload, server: ServerProcess) -> Window:
    """Set-up (server start, bulk load, warm-up), then the measured window.
    In a traced run, span recording goes off, on, off, on over
    :data:`TRACE_SLICES` equal slices, so latency with and without it can be
    compared within one run."""
    t0 = time.perf_counter()
    server.start()
    c = Client(server.port)
    written0 = samples_written_total(c)
    c.close()
    calls: list[Call] = []
    closed_loop(server.port, CLIENTS, wl.warm, wl.kind, math.inf, calls, lambda: False)
    setup_s = time.perf_counter() - t0

    measured: list[Call] = []
    recording = [not args.trace]
    stop_toggling = threading.Event()
    cpu0 = server.cpu_s()
    start = time.perf_counter()
    until = start + args.seconds

    def toggle():
        for k in range(1, TRACE_SLICES):
            if stop_toggling.wait(max(start + k * args.seconds / TRACE_SLICES - time.perf_counter(), 0)):
                return
            recording[0] = k % 2 == 1
            server.signal(signal.SIGUSR1 if recording[0] else signal.SIGUSR2)

    def traced() -> bool:
        return recording[0]

    toggler = threading.Thread(target=toggle)
    if args.trace:
        toggler.start()
    closed_loop(server.port, CLIENTS, wl.feed, wl.kind, until, measured, traced)
    stop_toggling.set()
    if args.trace:
        toggler.join()
    cpu_s = server.cpu_s() - cpu0
    elapsed = max((x.end for x in measured), default=until) - start
    c = Client(server.port)
    written = samples_written_total(c) - written0
    c.close()
    return Window(calls + measured, measured, setup_s, elapsed, cpu_s, written, server.peak_rss_mb())


def check(wl: Workload, w: Window, store: str) -> tuple[list[str], dict[int, int], int]:
    """Every failure found in the outputs (one entry per failed operation),
    samples returned per read call, and the number of rows stored."""
    from perfbench import oracle

    problems: list[str] = []
    acked = []
    returned: dict[int, int] = {}
    expected: dict[bytes, list] = {}
    for call in w.calls:
        if call.status != 200:
            problems.append(f"{call.kind} {call.rid}: HTTP {call.status} {call.body[:200]!r}")
            continue
        if call.kind == "write":
            acked.append(call.payload)
            continue
        body = call.payload.body
        if body not in expected:
            expected[body] = wl.model.expected(call.payload.query)
        try:
            got = oracle.decode_response(call.body)
        except ValueError as e:
            got = f"undecodable: {e}"
        if got != expected[body]:
            problems.append(f"read {call.rid} ({call.payload.kind}): response differs from the model")
        else:
            returned[id(call)] = sum(len(s) for _, s in got)
    acked_samples = sum(len(b.samples) for b in acked)
    if w.written != acked_samples:
        problems.append(f"/metrics samples_written_total grew by {w.written:g}, {acked_samples} acknowledged")
    stored, earlier = oracle.stored_rows(store, wl.written_from_s)
    want = wl.written_rows(acked)
    if stored != want:
        missing = want - stored
        lost = [b for b in acked if any(wl.row(*x) in missing for x in b.samples)]
        extra = sum((stored - want).values())
        summary = f"{sum(missing.values())} acknowledged rows missing, {extra} unexpected"
        problems += [f"store: write lost rows ({summary})" for _ in lost] or [f"store: {summary}"]
    if earlier != wl.n_preload:
        problems.append(f"store: {earlier} rows before the written range, {wl.n_preload} imported")
    return problems, returned, earlier + sum(stored.values())


def end_to_end(w: Window, live_heap_mb: float, store_bytes_per_sample: float) -> dict[str, float]:
    return {
        "latency_p50_ms": 1000 * median(x.latency for x in w.measured),
        "requests_per_s": sum(x.status == 200 for x in w.measured) / w.elapsed,
        "cpu_ms_per_request": 1000 * w.cpu_s / max(len(w.measured), 1),
        "setup_s": w.setup_s,
        "live_heap_mb": live_heap_mb,
        "store_bytes_per_sample": store_bytes_per_sample,
    }


def traced_layers(w: Window, server: ServerProcess, store_bytes_per_sample: float) -> dict[str, float]:
    from perfbench import tracing

    with open(server.trace_out) as f:
        spans = json.load(f)
    jobs = tracing.parse_event_log(server.event_dir)
    on = [x for x in w.measured if x.traced]
    layers = tracing.layer_metrics(spans, jobs, {x.rid: x.end - x.start for x in on})
    on_lat = [x.latency for x in on]
    off_lat = [x.latency for x in w.measured if not x.traced]
    layers["store.bytes_per_sample"] = store_bytes_per_sample
    layers["trace.overhead_ms"] = (
        1000 * (median(on_lat) - median(off_lat)) if on_lat and off_lat else 0.0
    )
    return layers


def describe(w: Window, returned: dict[int, int], failed: int) -> list[str]:
    """Human-readable lines: every serving metric that applies, with its
    sample count; a p95 is marked when fewer than 10 samples lie beyond it."""
    lines = []
    for kind in ("write", "read"):
        xs = sorted(x.latency for x in w.measured if x.kind == kind)
        if not xs:
            continue
        n = len(xs)
        rank = math.ceil(0.95 * n)  # nearest-rank p95
        lines.append(f"{kind}_p50_ms {1000 * median(xs):.1f} ms (n={n})")
        lines.append(
            f"{kind}_p95_ms {1000 * xs[rank - 1]:.1f} ms (n={n}"
            + (f", only {n - rank} beyond p95" if n - rank < 10 else "") + ")"
        )
    panels: dict[str, list[float]] = {}
    for x in w.measured:
        if x.kind == "read":
            panels.setdefault(x.payload.kind, []).append(x.latency)
    for panel, xs in sorted(panels.items()):
        lines.append(f"read_p50_ms[{panel}] {1000 * median(xs):.1f} ms (n={len(xs)})")
    writes = [x for x in w.measured if x.kind == "write" and x.status == 200]
    reads = [x for x in w.measured if x.kind == "read"]
    if writes:
        lines.append(f"write_samples_per_s {sum(len(x.payload.samples) for x in writes) / w.elapsed:.1f} 1/s")
    if reads:
        lines.append(f"read_requests_per_s {len(reads) / w.elapsed:.3f} 1/s")
        lines.append(f"read_response_bytes {sum(len(x.body) for x in reads) / len(reads):.1f} bytes")
        samples = sum(returned.get(id(x), 0) for x in reads)
        lines.append(f"read_samples_returned {samples / len(reads):.1f} count")
    lines.append(f"peak_rss_mb {w.peak_rss_mb:.1f} MB")
    lines.append(f"samples_written_total_delta {w.written:g} count")
    lines.append(f"failed_ratio {failed / len(w.calls):.4f} ratio")
    return lines


def provenance(seed: int, steal: float) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "seed": seed,
        "steal_fraction": round(steal, 4),
    }


def run(args) -> dict:
    """One run in a fresh work dir under ``perfbench/.work``, removed after."""
    from perfbench import oracle

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        wl = Workload(args.workload, args.seed, args.seconds, work)
        store = os.path.join(work, "store")
        server = ServerProcess(work, store, preload=wl.preload, trace=bool(args.trace))
        steal0 = _cpu_ticks()
        try:
            w = measure(args, wl, server)
        finally:
            server.stop()
        steal1 = _cpu_ticks()
        problems, returned, n_rows = check(wl, w, store)
        bytes_per_sample = oracle.store_bytes(store) / n_rows if n_rows else 0.0
        return {
            "metrics": (
                traced_layers(w, server, bytes_per_sample) if args.trace
                else end_to_end(w, server.live_heap_mb(), bytes_per_sample)
            ),
            "report": describe(w, returned, len(problems)),
            "problems": problems,
            "attempted": len(w.calls),
            "steal": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import remote_tsdb_clickhouse_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the adapter package from {ROOT}: {e}", file=sys.stderr)
        return 2

    res = run(args)
    print("# provenance " + json.dumps(provenance(args.seed, res["steal"])))
    for line in res["report"]:
        print(line)
    for problem in res["problems"][:20]:
        print(f"# FAILED {problem}")
    units = LAYER_UNITS if args.trace else END_TO_END
    metrics = {k: {"value": res["metrics"][k], "unit": unit} for k, unit in units.items()}
    if not args.trace:
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    failed = min(len(res["problems"]), res["attempted"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

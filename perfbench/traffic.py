"""Seeded traffic for the serving workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical ``/write`` and ``/read`` bodies.  Bodies are built with the
repo's own ``prompb`` messages and ``codec`` encoders; the server only ever
sees these bytes (and, for the bulk preload, the TSV text of
:func:`preload_tsv_lines`).

The series model follows FIXTURES.md §1: a node-exporter-like scrape of many
targets, each exposing 25 series, with the adversarial label values the
matcher algebra must survive:

- ``instance=10.0.0.1:9100`` (value containing ``:``) is always present;
- ``path=/api/v1?x=N`` (value containing ``=``);
- ``re=a.b*c`` (regex metacharacters in a value) on some targets;
- ``env`` is missing on some targets (NEQ/NRE missing-label semantics);
- ``remote=clickhouse`` (the routing label) is stored on a few targets.

Write batches hold exactly :data:`BATCH_SAMPLES` samples (Prometheus'
``max_samples_per_send``, BASELINE.md) of a :data:`SCRAPE_MS` scrape
(FIXTURES.md §1).  FIXTURES.md §1 asks for duplicate ``(series, second)``
samples and out-of-order arrival, but no figure in the repo or in the
reference gives their share of real traffic.  So :data:`DUP_SHARE` (samples
repeating an earlier sample's second with another value, max-dedup on read)
and :data:`OOO_SHARE` (series messages carrying their samples newest-first)
are assumptions, set so that every write batch carries both cases and the
bulk history carries duplicates.  :data:`ADHOC_SHARE`, the share of read
requests that are ad-hoc panels rather than saved ones, is an assumption
too.

Every request is a pure function of the seed and its index
(:func:`write_batch`, :func:`read_call`), so a load generator can build as
many as it needs, in any order, and still send the same bytes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from remote_tsdb_clickhouse_spark import codec, prompb
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery

BATCH_SAMPLES = 10_000
SCRAPE_MS = 15_000
DUP_SHARE = 0.01
OOO_SHARE = 0.05
ADHOC_SHARE = 0.2

#: 2026-01-01T00:00:00Z, the start of the first day partition.
DAY0_S = 1_767_225_600

#: (metric name, extra label name, extra label values) per target.
_PER_TARGET = [
    ("up", None, [None]),
    ("go_goroutines", None, [None]),
    ("go_gc_duration_seconds", None, [None]),
    ("go_memstats_alloc_bytes", None, [None]),
    ("go_threads", None, [None]),
    ("process_cpu_seconds_total", None, [None]),
    ("process_resident_memory_bytes", None, [None]),
    ("node_load1", None, [None]),
    ("node_load5", None, [None]),
    ("node_memory_MemAvailable_bytes", None, [None]),
    ("node_cpu_seconds_total", "cpu", ["0", "1", "2", "3"]),
    ("http_requests_total", "path", [f"/api/v1?x={i}" for i in range(4)]),
    ("http_request_duration_seconds_bucket", "le", ["0.1", "0.5", "1", "+Inf"]),
    ("node_network_receive_bytes_total", "device", ["eth0"]),
    ("node_filesystem_avail_bytes", "mountpoint", ["/"]),
    ("scrape_duration_seconds", None, [None]),
]
SERIES_PER_TARGET = sum(len(v) for _, _, v in _PER_TARGET)  # 25
METRIC_NAMES = [m for m, _, _ in _PER_TARGET]
JOBS = ["omada", "node", "api", "db"]


@dataclass(frozen=True)
class Series:
    name: str
    #: (label, value) pairs sorted by label name, ``__name__`` excluded
    labels: tuple[tuple[str, str], ...]

    def prompb_labels(self) -> list[prompb.Label]:
        return [prompb.Label("__name__", self.name)] + [
            prompb.Label(k, v) for k, v in self.labels
        ]

    def joined(self) -> tuple[str, ...]:
        """Labels as the store keeps them: ``name=value`` in write order."""
        return tuple(f"{k}={v}" for k, v in self.labels)


def instance_addr(i: int) -> str:
    return f"10.0.{i // 250}.{i % 250 + 1}:9100"


def series_model(seed: int, n_targets: int) -> list[Series]:
    """``n_targets * 25`` series.  The seed decides which targets get which
    job and optional labels; the shares are exact, so every seed yields the
    same amount of matching data per panel."""
    rng = random.Random(f"series:{seed}")
    jobs = [JOBS[i % len(JOBS)] for i in range(n_targets)]
    rng.shuffle(jobs)
    with_env = round(0.7 * n_targets)
    envs = ["prod"] * round(0.6 * with_env) + ["staging"] * (with_env - round(0.6 * with_env))
    envs += [None] * (n_targets - with_env)
    rng.shuffle(envs)
    out: list[Series] = []
    for i in range(n_targets):
        common = {"instance": instance_addr(i), "job": jobs[i]}
        if envs[i] is not None:
            common["env"] = envs[i]
        if i % 5 == 1:
            common["re"] = "a.b*c"
        if i % 20 == 3:
            common["remote"] = "clickhouse"
        for name, extra, values in _PER_TARGET:
            for v in values:
                labels = dict(common)
                if extra is not None:
                    labels[extra] = v
                out.append(Series(name, tuple(sorted(labels.items()))))
    return out


def _value(rng: random.Random, s_idx: int) -> float:
    return round(rng.random() * (10 ** (s_idx % 7)), 3)


def scrape_samples(
    seed: int, series: list[Series], first_ms: int, n_scrapes: int
) -> list[list[tuple[int, float]]]:
    """Per series, ``n_scrapes`` (timestamp_ms, value) samples starting at
    ``first_ms`` every :data:`SCRAPE_MS`, each offset by a fixed per-series
    sub-second jitter.  A :data:`DUP_SHARE` of samples (never a series'
    first) take the previous sample's second with a new millisecond offset
    and value; an :data:`OOO_SHARE` of series come newest-first."""
    rng = random.Random(f"scrape:{seed}:{first_ms}")
    out = []
    for s_idx in range(len(series)):
        jitter = (s_idx * 7919) % 1000
        samples = []
        for j in range(n_scrapes):
            t = first_ms + j * SCRAPE_MS + jitter
            if j and rng.random() < DUP_SHARE:
                t = samples[-1][0] // 1000 * 1000 + rng.randrange(1000)
            samples.append((t, _value(rng, s_idx)))
        if rng.random() < OOO_SHARE:
            samples.reverse()
        out.append(samples)
    return out


def write_request(series: list[Series], samples: list[list[tuple[int, float]]]) -> prompb.WriteRequest:
    return prompb.WriteRequest(
        timeseries=[
            prompb.TimeSeries(
                labels=s.prompb_labels(),
                samples=[prompb.Sample(value=v, timestamp=t) for t, v in ss],
            )
            for s, ss in zip(series, samples)
        ]
    )


@dataclass
class WriteBatch:
    body: bytes
    #: (series index, timestamp_ms, value) for every sample in the batch
    samples: list[tuple[int, int, float]]


def write_batch(seed: int, series: list[Series], start_ms: int, k: int) -> WriteBatch:
    """The ``k``-th of consecutive remote-write batches of exactly
    :data:`BATCH_SAMPLES` samples, covering consecutive scrapes of every
    series from ``start_ms`` on."""
    if BATCH_SAMPLES % len(series):
        raise ValueError(f"{len(series)} series do not divide a {BATCH_SAMPLES}-sample batch")
    per = BATCH_SAMPLES // len(series)
    samples = scrape_samples(seed, series, start_ms + k * per * SCRAPE_MS, per)
    body = codec.encode_write_request(write_request(series, samples))
    return WriteBatch(body, [(i, t, v) for i, ss in enumerate(samples) for t, v in ss])


def preload_samples(seed: int, series: list[Series], start_s: int, end_s: int, step_s: int):
    """Bulk history: every series every ``step_s`` seconds in
    ``[start_s, end_s)`` at whole seconds, with the write path's
    duplicate share."""
    n = (end_s - start_s) // step_s
    rng = random.Random(f"preload:{seed}")
    for s_idx in range(len(series)):
        prev = None
        for j in range(n):
            t = start_s + j * step_s
            if prev is not None and rng.random() < DUP_SHARE:
                t = prev
            prev = t
            yield s_idx, t * 1000, _value(rng, s_idx)


def preload_tsv_lines(series: list[Series], samples):
    """``promtool tsdb dump``-shaped TSV lines for ``SamplesStore.import_tsv``."""
    joined = [",".join(s.joined()) for s in series]
    for i, t, v in samples:
        yield f"{series[i].name}\t{joined[i]}\t{t}\t{v!r}\n"


# -- remote-read panels -------------------------------------------------------

EQ, NEQ, RE, NRE = MatcherType.EQ, MatcherType.NEQ, MatcherType.RE, MatcherType.NRE


def _m(t: MatcherType, name: str, value: str) -> LabelMatcher:
    return LabelMatcher(t, name, value)


#: Matcher values filled in from the seed at every refresh.
INSTANCE, JOB, CPU = "<instance>", "<job>", "<cpu>"

#: Saved dashboard panels: (kind, range_s, step_ms, range_hint_ms, matchers).
_PANELS = [
    ("raw_eq", 1800, 0, 0, [(EQ, "__name__", "node_load1"), (EQ, "instance", INSTANCE)]),
    ("raw_eq_job", 900, 0, 0, [(EQ, "__name__", "go_goroutines"), (EQ, "job", JOB)]),
    ("re_name", 3600, 15_000, 0, [(RE, "__name__", "go_.*"), (EQ, "instance", INSTANCE)]),
    ("nre_path", 1800, 0, 0, [
        (EQ, "__name__", "http_requests_total"), (NRE, "path", r"/api/v1\?x=[01]"), (EQ, "job", JOB),
    ]),
    ("neq_missing", 3600, 0, 0, [
        (EQ, "__name__", "node_cpu_seconds_total"), (NEQ, "env", "prod"), (EQ, "cpu", CPU),
    ]),
    ("metachar", 3600, 0, 0, [
        (EQ, "__name__", "process_cpu_seconds_total"), (EQ, "re", "a.b*c"),
        (RE, "instance", r"10\.0\.0\.[0-9]+:9100"),
    ]),
    ("raw_eq", 1800, 0, 0, [(EQ, "__name__", "go_threads"), (EQ, "instance", INSTANCE)]),
    ("long_step", 86400, 300_000, 0, [(EQ, "__name__", "node_memory_MemAvailable_bytes"), (EQ, "job", JOB)]),
    ("raw_eq", 1800, 0, 0, [(EQ, "__name__", "node_load5"), (EQ, "instance", INSTANCE)]),
    ("long_clamp", 43200, 600_000, 120_000, [(EQ, "__name__", "node_load5"), (RE, "job", "n.de")]),
    ("ignore_label", 7200, 60_000, 0, [
        (EQ, "__name__", "up"), (EQ, "remote", "clickhouse"), (EQ, "job", JOB),
    ]),
    ("raw_eq", 1800, 0, 0, [(EQ, "__name__", "scrape_duration_seconds"), (EQ, "instance", INSTANCE)]),
]


def _fill(rng: random.Random, n_targets: int, value: str) -> str:
    if value == INSTANCE:
        return instance_addr(rng.randrange(n_targets))
    if value == JOB:
        return JOBS[rng.randrange(len(JOBS))]
    if value == CPU:
        return str(rng.randrange(4))
    return value


#: Metrics with one series per target: an ad-hoc panel selects at most one.
_SINGLE = [m for m, extra, _ in _PER_TARGET if extra is None]


def _adhoc(rng: random.Random, n_targets: int, i: int):
    """The ``i``-th panel nobody saved: the seed picks a fresh metric,
    target and matcher values; the shape (matcher kind, range, step) cycles
    with ``i``, so every seed asks for the same kinds of work."""
    ms = [
        _m(EQ, "__name__", _SINGLE[rng.randrange(len(_SINGLE))]),
        _m(EQ, "instance", instance_addr(rng.randrange(n_targets))),
    ]
    extra = i % 4
    if extra == 1:
        ms.append(_m(NEQ, "job", JOBS[rng.randrange(4)]))
    elif extra == 2:
        ms.append(_m(RE, "job", "(%s|%s)" % (JOBS[rng.randrange(4)], JOBS[rng.randrange(4)])))
    elif extra == 3:
        ms.append(_m(NRE, "env", "pr.*"))
    range_s = (300, 900, 1800, 3600)[i // 4 % 4]
    step_ms = (0, 2000, 2001, 14_000, 60_000)[i % 5]
    return "adhoc", range_s, step_ms, 0, tuple(ms)


@dataclass
class ReadCall:
    kind: str
    query: ReadQuery
    body: bytes


#: Each dashboard refresh moves the panels' ranges back by this much.
SLIDE_S = 60


def read_call(seed: int, n_targets: int, now_s: int, i: int) -> ReadCall:
    """The ``i``-th remote-read request: saved panels in a fixed cyclic
    order, each refresh sliding its range back by :data:`SLIDE_S`, with
    every fifth request (:data:`ADHOC_SHARE`) an ad-hoc panel.  Ranges end
    at or before ``now_s``, except that the first saved panel of each cycle
    leaves ``end_ms = 0`` (no upper bound)."""
    rng = random.Random(f"read:{seed}:{i}")
    now = now_s - (i // 5) * SLIDE_S
    end_ms = now * 1000
    if i % 5 == 4:
        kind, range_s, step_ms, range_ms, ms = _adhoc(rng, n_targets, i // 5)
    else:
        saved = (i // 5) * 4 + i % 5
        kind, range_s, step_ms, range_ms, spec = _PANELS[saved % len(_PANELS)]
        ms = tuple(_m(t, name, _fill(rng, n_targets, v)) for t, name, v in spec)
        if saved % len(_PANELS) == 0:
            kind, end_ms = "open_end", 0
    q = ReadQuery(
        start_ms=(now - range_s) * 1000,
        end_ms=end_ms,
        matchers=ms,
        hints=ReadHints(step_ms=step_ms, range_ms=range_ms),
    )
    return ReadCall(kind, q, codec.encode_read_request(prompb.ReadRequest(queries=[q])))

"""Independent expected results for the serving path.

A pure-Python model of what the adapter must return, written from the
reference semantics rather than from the engine's code: Prometheus matchers
with the reference's concat anchoring and ignore-label rule, millisecond
timestamps truncated to seconds, the hint-driven bucket, a max over
duplicates, and series ordered by name and sorted joined labels.  It also
reads the store's parquet files back with pyarrow to check that the stored
rows are exactly the acknowledged samples.
"""

from __future__ import annotations

import bisect
import os
import re
from collections import Counter

from remote_tsdb_clickhouse_spark import codec, prompb

IGNORE_LABEL = "remote=clickhouse"


def _anchored(pattern: str) -> re.Pattern:
    return re.compile("^" + pattern + "$")


def _label_match(m, name: str, joined: tuple[str, ...]) -> bool:
    t = int(m.type)
    if m.name == "__name__":
        if t == 0:
            return name == m.value
        if t == 1:
            return name != m.value
        hit = _anchored(m.value).search(name) is not None
        return hit if t == 2 else not hit
    label = f"{m.name}={m.value}"
    if t == 0:
        return label == IGNORE_LABEL or label in joined
    if t == 1:
        return label not in joined
    pat = _anchored(label)
    hit = any(pat.search(x) for x in joined)
    return hit if t == 2 else not hit


def bucket_seconds(step_ms: int, range_ms: int) -> int | None:
    """The reference's downsampling rule (``read.go:38-52``)."""
    if step_ms <= 2000:
        return None
    interval_ms = range_ms if 0 < range_ms < step_ms else step_ms
    return max(interval_ms // 2 // 1000, 1)


class ReadModel:
    """Per-series max-deduplicated samples, queryable like ``/read``."""

    def __init__(self, series):
        self.series = series
        self._joined = [s.joined() for s in series]
        self._points: list[dict[int, float]] = [{} for _ in series]
        self._sorted: list[tuple[list[int], list[float]]] | None = None

    def add(self, s_idx: int, t_ms: int, value: float) -> None:
        d = self._points[s_idx]
        sec = t_ms // 1000
        if sec not in d or value > d[sec]:
            d[sec] = value
        self._sorted = None

    def _series_points(self):
        if self._sorted is None:
            self._sorted = []
            for d in self._points:
                secs = sorted(d)
                self._sorted.append((secs, [d[s] for s in secs]))
        return self._sorted

    def expected(self, q) -> list[tuple[tuple, tuple]]:
        """``[(labels, samples)]`` for one query, as the response must
        carry them: labels ``(name, value)`` with ``__name__`` first, then
        the joined labels in sorted order split at the first ``=``;
        samples ``(timestamp_ms, value)`` ascending."""
        points = self._series_points()
        lo = q.start_ms // 1000
        hi = q.end_ms // 1000 if q.end_ms > 0 else None
        interval = bucket_seconds(q.hints.step_ms, q.hints.range_ms)
        out = []
        for i, s in enumerate(self.series):
            joined = self._joined[i]
            if not all(_label_match(m, s.name, joined) for m in q.matchers):
                continue
            secs, vals = points[i]
            a = bisect.bisect_left(secs, lo)
            b = len(secs) if hi is None else bisect.bisect_right(secs, hi)
            if a >= b:
                continue
            buckets: dict[int, float] = {}
            for sec, v in zip(secs[a:b], vals[a:b]):
                t = sec - sec % interval if interval else sec
                if t not in buckets or v > buckets[t]:
                    buckets[t] = v
            slb = sorted(joined)
            labels = (("__name__", s.name),) + tuple(tuple(x.split("=", 1)) for x in slb)
            out.append(((s.name, slb), labels, tuple((t * 1000, buckets[t]) for t in sorted(buckets))))
        out.sort(key=lambda r: r[0])
        return [(labels, samples) for _, labels, samples in out]


def decode_response(body: bytes) -> list[tuple[tuple, tuple]]:
    resp = prompb.decode_read_response(codec.snappy_decompress(body))
    if len(resp.results) != 1:
        raise ValueError(f"expected 1 query result, got {len(resp.results)}")
    return [
        (
            tuple((lb.name, lb.value) for lb in ts.labels),
            tuple((s.timestamp, s.value) for s in ts.samples),
        )
        for ts in resp.results[0].timeseries
    ]


#: Joins a row's labels into one string for comparison (never in a label).
LABEL_SEP = "\x1f"


def stored_rows(store_path: str, since_s: int) -> tuple[Counter, int]:
    """The store's rows from second ``since_s`` on, as a multiset of
    ``(second, metric_name, labels joined by LABEL_SEP, value)``, and the
    count of earlier rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    files = _parquet_files(store_path)
    if not files:
        return Counter(), 0
    table = ds.dataset(files, format="parquet").to_table(
        columns=["ts", "metric_name", "labels", "value"]
    )
    unit = table.schema.field("ts").type.unit
    per_s = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}[unit]
    secs = pc.divide(table.column("ts").cast(pa.int64()), per_s)
    keep = pc.greater_equal(secs, since_s)
    table, secs = table.filter(keep), secs.filter(keep)
    rows = Counter(zip(
        secs.to_pylist(),
        table.column("metric_name").to_pylist(),
        pc.binary_join(table.column("labels").cast(pa.list_(pa.string())), LABEL_SEP).to_pylist(),
        table.column("value").to_pylist(),
    ))
    return rows, len(keep) - table.num_rows


def _parquet_files(store_path: str) -> list[str]:
    """Committed data files: commit-staging dirs (``_temporary``,
    ``.spark-staging-*``) are skipped."""
    out = []
    for d, dirs, fs in os.walk(store_path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
    return out


def store_bytes(store_path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(store_path))

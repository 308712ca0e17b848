"""WriteRequest -> canonical samples rows (SURVEY §2.1 S5).

The reference's flatten+insert writer (``write.go:11-63``): per TimeSeries,
split ``__name__`` out (``write.go:39-42``), join remaining labels to
``"name=value"`` strings preserving remote-write sorted order
(``write.go:37-44``), then one row per Sample with the ms timestamp
truncated to DateTime seconds (``write.go:49``); one atomic batch per
request (``write.go:14-22,60``).

Here the flatten runs driver-side over the decoded request (requests are
bounded — 32 MiB wire cap — so this is not a scale risk) into a
``pyarrow.Table`` in the store's landing schema, and the store lands that
table itself (``SamplesStore.append``): sorted, one parquet file per date
partition per request, like one part per INSERT, renamed into place only
once every file is written.  No Spark job runs per request.  The ingest
*volume* path is Structured Streaming over many requests
(``streaming/ingest.py``), where the same row shape arrives via staged
batches and goes through Spark's writer.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from remote_tsdb_clickhouse_spark import prompb
from remote_tsdb_clickhouse_spark.model import ARROW_SAMPLES_SCHEMA, NAME_LABEL, SAMPLES_SCHEMA
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

#: Epoch seconds of 0001-01-01T00:00:00Z and 9999-12-31T23:59:59Z, the
#: range of Python's ``datetime`` that bounds every stored ``ts``.
MIN_TS_S = -62_135_596_800
MAX_TS_S = 253_402_300_799


def write_request_rows(req: prompb.WriteRequest) -> pa.Table:
    """Flatten a WriteRequest into an ``ARROW_SAMPLES_SCHEMA`` table.

    One row ``(ts, metric_name, labels, value)`` per sample; ms -> seconds
    truncation and ``__name__`` extraction per the reference semantics.
    Raises ``ValueError`` if a sample's second falls outside years 1-9999.
    """
    secs: list[int] = []
    names: list[str] = []
    label_col: list[list[str]] = []
    values: list[float] = []
    for ts_msg in req.timeseries:
        name = ""
        labels: list[str] = []
        for lb in ts_msg.labels:
            if lb.name == NAME_LABEL:
                name = lb.value
                continue
            labels.append(f"{lb.name}={lb.value}")
        n = len(ts_msg.samples)
        names += [name] * n
        label_col += [labels] * n
        for s in ts_msg.samples:
            # ms -> whole seconds (DateTime parity, write.go:49), floored
            secs.append(s.timestamp // 1000)
            values.append(float(s.value))
    if secs and (min(secs) < MIN_TS_S or max(secs) > MAX_TS_S):
        bad = next(t for t in secs if not MIN_TS_S <= t <= MAX_TS_S)
        raise ValueError(f"sample second {bad} is out of range (years 1-9999)")
    return pa.table([secs, names, label_col, values], schema=ARROW_SAMPLES_SCHEMA)


def write_request_df(spark: SparkSession, req: prompb.WriteRequest) -> DataFrame:
    return spark.createDataFrame(write_request_rows(req), SAMPLES_SCHEMA)


class TimeseriesWriter:
    """S5 writer bound to a store; returns the written-sample count (the
    reference's ``samples_written_total`` increment, A3)."""

    def __init__(self, store: SamplesStore):
        self.store = store

    def write(self, req: prompb.WriteRequest) -> int:
        table = write_request_rows(req)
        if not len(table):
            return 0
        self.store.append(table)
        return len(table)

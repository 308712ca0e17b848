"""Canonical data model.

Mirrors the reference's single samples table (reference ``README.md:17-27``):

    CREATE TABLE metrics.samples (
        updated_at  DateTime,                    -- second precision
        metric_name LowCardinality(String),
        labels      Array(LowCardinality(String)),  -- "name=value", sorted
        value       Float64
    ) ENGINE = MergeTree ORDER BY (metric_name, labels, updated_at)

Spark equivalents:
- ``ts TIMESTAMP`` truncated to whole seconds (DateTime parity; the reference
  write path converts ms -> DateTime at ``write.go:49`` and the read path
  re-expands seconds -> ms at ``read.go:92``).
- ``metric_name STRING`` (dictionary encoding comes free from Parquet).
- ``labels ARRAY<STRING>`` of pre-joined ``"name=value"`` strings, sorted by
  label name (remote-write spec order, ``write.go:37``), with ``__name__``
  extracted out (``write.go:39-42``).
- ``value DOUBLE``.

At scale the samples table is stored as Parquet partitioned by ``date(ts)``
with rows sorted by ``(metric_name, labels, ts)`` inside each file, so that
parquet's per-page column index on metric_name lets a pushed name filter
skip pages, the analog of the MergeTree primary key (reference
``README.md:26``).  The write sort leads with the partition column, or
Spark's partitioned writer replaces it (``sources.samples_store``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

#: Prometheus reserved label carrying the metric name.
NAME_LABEL = "__name__"

#: Default matcher silently dropped on read (reference ``main.go:88``,
#: ``read.go:123-125``): Prometheus users add ``remote="clickhouse"`` to
#: route queries to this engine; the label never exists in storage.
DEFAULT_READ_IGNORE_LABEL = "remote=clickhouse"

#: Canonical samples schema: the engine's only persistent table.
SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), nullable=False),
        T.StructField("metric_name", T.StringType(), nullable=False),
        T.StructField("labels", T.ArrayType(T.StringType(), containsNull=False), nullable=False),
        T.StructField("value", T.DoubleType(), nullable=False),
    ]
)

SAMPLES_FIELDS = ["ts", "metric_name", "labels", "value"]

#: The same schema as Arrow, field for field as Spark writes it to parquet:
#: every column required, ``labels`` a list with a required ``element``.
#: ``ts`` is whole seconds, so years 1-9999 fit without overflow.
ARROW_SAMPLES_SCHEMA = pa.schema(
    [
        pa.field("ts", pa.timestamp("s", tz="UTC"), nullable=False),
        pa.field("metric_name", pa.string(), nullable=False),
        pa.field("labels", pa.list_(pa.field("element", pa.string(), nullable=False)), nullable=False),
        pa.field("value", pa.float64(), nullable=False),
    ]
)

#: Partition column used by the parquet samples store (date(ts)); gives
#: partition pruning for the time-range predicates F1/F2 at 100 TB scale.
PARTITION_COLUMN = "ts_date"

#: Store schema including the partition column.  Built as a fresh copy —
#: ``StructType.add`` mutates the receiver, never call it on SAMPLES_SCHEMA.
PARTITIONED_SAMPLES_SCHEMA = T.StructType(
    list(SAMPLES_SCHEMA.fields) + [T.StructField(PARTITION_COLUMN, T.DateType())]
)

"""Samples store (S5-S8): append/read round-trip, range delete, TSV import,
compaction, partition layout."""

from __future__ import annotations

import glob
import os
import struct
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark import prompb
from remote_tsdb_clickhouse_spark.model import ARROW_SAMPLES_SCHEMA
from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore
from remote_tsdb_clickhouse_spark.sources.writer import (
    MAX_TS_S,
    MIN_TS_S,
    TimeseriesWriter,
    write_request_rows,
)


def make_store(spark, tmp_path) -> SamplesStore:
    return SamplesStore(spark, str(tmp_path / "samples"))


def wr(name, labels, samples):
    return prompb.WriteRequest(
        timeseries=[
            prompb.TimeSeries(
                labels=[prompb.Label("__name__", name)]
                + [prompb.Label(k, v) for k, v in labels],
                samples=[prompb.Sample(v, t) for v, t in samples],
            )
        ]
    )


def test_write_request_flatten_semantics():
    req = wr(
        "go_goroutines",
        [("instance", "10.0.0.1:9100"), ("job", "omada")],
        [(35.5, 1704067200123)],  # ms with sub-second junk
    )
    table = write_request_rows(req)
    assert table.schema == ARROW_SAMPLES_SCHEMA
    rows = table.to_pylist()
    assert rows == [
        {
            "ts": datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc),  # truncated to the second
            "metric_name": "go_goroutines",
            "labels": ["instance=10.0.0.1:9100", "job=omada"],
            "value": 35.5,
        }
    ]
    assert rows[0]["ts"].utcoffset() == timedelta(0)


def test_write_request_flatten_timestamp_bounds():
    """The flatten accepts exactly the seconds of years 1-9999 (the range
    of a Python ``datetime``) and floors negative milliseconds."""

    def secs(ms):
        return [r["ts"] for r in write_request_rows(wr("m", [], [(1.0, ms)])).to_pylist()]

    utc = timezone.utc
    assert secs(MIN_TS_S * 1000) == [datetime(1, 1, 1, tzinfo=utc)]
    assert secs(MAX_TS_S * 1000 + 999) == [datetime(9999, 12, 31, 23, 59, 59, tzinfo=utc)]
    assert secs(-1) == [datetime(1969, 12, 31, 23, 59, 59, tzinfo=utc)]
    for ms in (MIN_TS_S * 1000 - 1, (MAX_TS_S + 1) * 1000, 2**62, -(2**62)):
        with pytest.raises(ValueError, match="out of range"):
            write_request_rows(wr("m", [], [(1.0, 1704067200000), (2.0, ms)]))


def test_store_roundtrip_and_partitioning(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    n = writer.write(
        wr("up", [("job", "a")], [(1.0, 1704067200000), (0.0, 1704153600000)])  # two days
    )
    assert n == 2
    got = store.read().orderBy("ts").collect()
    assert [r["value"] for r in got] == [1.0, 0.0]
    # physical layout: one directory per date partition
    dirs = sorted(p.name for p in (tmp_path / "samples").iterdir() if p.is_dir())
    assert dirs == ["ts_date=2024-01-01", "ts_date=2024-01-02"]


def test_one_file_per_date_partition_per_request(spark, tmp_path):
    """A /write lands like one ClickHouse INSERT makes one part per
    partition: one parquet file per date partition, whatever the session's
    parallelism."""
    day = 1704067200000  # 2024-01-01 00:00 UTC

    def files_per_day(root, samples):
        n = TimeseriesWriter(SamplesStore(spark, str(root))).write(wr("m", [("job", "a")], samples))
        assert n == len(samples)
        return Counter(os.path.basename(os.path.dirname(f)) for f in glob.glob(f"{root}/*/*.parquet"))

    one_day = [(float(i), day + i * 15_000) for i in range(64)]
    assert files_per_day(tmp_path / "one", one_day) == {"ts_date=2024-01-01": 1}
    # rows of the two days interleaved, so every input slice holds both
    two_days = [(float(i), day + (i % 2) * 86_400_000 + i * 15_000) for i in range(64)]
    assert files_per_day(tmp_path / "two", two_days) == {
        "ts_date=2024-01-01": 1,
        "ts_date=2024-01-02": 1,
    }


def _bits(v: float) -> str:
    return struct.pack(">d", v).hex()


def _from_bits(h: str) -> float:
    return struct.unpack(">d", bytes.fromhex(h))[0]


def test_written_rows_bit_parity(spark, tmp_path):
    """An adversarial request is stored with exactly the expected rows,
    read back from the parquet files with pyarrow and with ``value``
    compared as its 64-bit pattern.  The Prometheus staleness marker
    0x7ff0000000000002 keeps its bits, as in the reference's Float64."""
    day = 1704067200000  # 2024-01-01 00:00 UTC
    stale = "7ff0000000000002"
    req = prompb.WriteRequest(
        timeseries=[
            prompb.TimeSeries(
                labels=[
                    prompb.Label("__name__", "http_requests_total"),
                    prompb.Label("job", "api=v2"),
                    prompb.Label("path", "/naïve/ü"),
                ],
                # newest first; two samples in one second
                samples=[
                    prompb.Sample(1.0, day + 30_999),
                    prompb.Sample(-0.0, day + 30_000),
                    prompb.Sample(float("inf"), day + 15_500),
                    prompb.Sample(float("-inf"), day),
                    prompb.Sample(float("nan"), day - 1),
                ],
            ),
            prompb.TimeSeries(
                labels=[prompb.Label("instance", "h:9100")],  # no __name__
                samples=[prompb.Sample(_from_bits(stale), day + 60_000)],
            ),
            prompb.TimeSeries(labels=[prompb.Label("__name__", "empty")], samples=[]),
        ]
    )
    # the flatten itself keeps every bit
    assert [_bits(v) for v in write_request_rows(req).column("value").to_pylist()] == [
        "3ff0000000000000", "8000000000000000", "7ff0000000000000",
        "fff0000000000000", "7ff8000000000000", stale,
    ]
    root = tmp_path / "samples"
    assert TimeseriesWriter(SamplesStore(spark, str(root))).write(req) == 6

    got = []
    for f in glob.glob(f"{root}/*/*.parquet"):
        t = pq.read_table(f)
        got += [
            (os.path.basename(os.path.dirname(f)), ns, name, labels, _bits(v))
            for ns, name, labels, v in zip(
                t["ts"].cast(pa.int64()).to_pylist(),
                t["metric_name"].to_pylist(),
                t["labels"].to_pylist(),
                t["value"].to_pylist(),
            )
        ]
    d1, s1 = "ts_date=2024-01-01", 1704067200 * 10**9
    lbl = ["job=api=v2", "path=/naïve/ü"]
    second = 10**9
    assert sorted(got) == sorted(
        [
            (d1, s1 + 30 * second, "http_requests_total", lbl, "3ff0000000000000"),
            (d1, s1 + 30 * second, "http_requests_total", lbl, "8000000000000000"),
            (d1, s1 + 15 * second, "http_requests_total", lbl, "7ff0000000000000"),
            (d1, s1, "http_requests_total", lbl, "fff0000000000000"),
            ("ts_date=2023-12-31", s1 - second, "http_requests_total", lbl, "7ff8000000000000"),
            (d1, s1 + 60 * second, "", ["instance=h:9100"], stale),
        ]
    )


def test_range_delete(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    base = 1704067200000
    writer.write(wr("m", [], [(float(i), base + i * 3_600_000) for i in range(48)]))
    assert store.read().count() == 48
    # delete (t > 12h, t <= 24h]: the reference's reimport-day semantics
    store.delete_time_range(datetime(2024, 1, 1, 12), datetime(2024, 1, 2, 0))
    left = store.read().orderBy("ts").collect()
    assert len(left) == 36
    hours = [r["ts"].hour + (0 if r["ts"].day == 1 else 24) for r in left]
    assert 12 in hours  # boundary start is exclusive -> survives
    assert 13 not in hours and 24 not in hours  # end inclusive -> deleted
    assert 25 in hours


def test_range_delete_full_partitions(spark, tmp_path):
    """A delete range fully covering whole date partitions must remove them.

    Zero-survivor partitions are invisible to dynamic partition overwrite
    (nothing is written for them), so they need explicit directory removal —
    the reference's day-reimport case (README.md:163-167): delete the day,
    re-import it; stale rows surviving here would win at read time via the
    max(value) dedup."""
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    base = 1704067200000  # 2024-01-01 00:00 UTC
    # 3 days x 24 hourly samples
    writer.write(wr("m", [], [(float(i), base + i * 3_600_000) for i in range(72)]))
    assert store.read().count() == 72
    # full-day delete of 2024-01-02: (day1 24:00 exclusive..day2 24:00]
    store.delete_time_range(datetime(2024, 1, 1, 23, 59, 59), datetime(2024, 1, 3, 0))
    left = store.read().collect()
    days = sorted({r["ts"].day for r in left})
    assert days == [1, 3]
    # day1 all 24 survive (all <= 23:00), day2's 24 deleted, day3's 00:00
    # sample deleted (end-inclusive) -> 24 + 23
    assert len(left) == 47
    # the fully-covered partition directory is gone from disk
    dirs = sorted(p.name for p in (tmp_path / "samples").iterdir() if p.is_dir())
    assert "ts_date=2024-01-02" not in dirs
    # reimport the day: fresh values must win (no stale max() shadows)
    writer.write(wr("m", [], [(1000.0 + i, base + 86_400_000 + i * 3_600_000) for i in range(24)]))
    day2 = [r["value"] for r in store.read().where(F.to_date("ts") == "2024-01-02").collect()]
    assert sorted(day2) == [1000.0 + i for i in range(24)]


def test_tsv_import(spark, tmp_path):
    tsv = tmp_path / "dump.tsv"
    tsv.write_text(
        "go_goroutines\tinstance=a,job=b\t1704067200123\t35.5\n"
        "up\t\t1704067215000\t1.0\n"
    )
    store = make_store(spark, tmp_path)
    assert store.import_tsv(str(tsv)) == 2
    rows = {r["metric_name"]: r for r in store.read().collect()}
    assert rows["go_goroutines"]["labels"] == ["instance=a", "job=b"]
    assert rows["go_goroutines"]["ts"] == datetime(2024, 1, 1, 0, 0, 0)
    assert rows["up"]["labels"] == []


def test_compact_reduces_files(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    for i in range(5):  # five appends -> many small files
        writer.write(wr("m", [("i", str(i))], [(1.0, 1704067200000 + i * 1000)]))
    files_before = list((tmp_path / "samples").glob("ts_date=*/*.parquet"))
    store.compact(files_per_partition=1)
    files_after = list((tmp_path / "samples").glob("ts_date=*/*.parquet"))
    assert len(files_after) < len(files_before)
    assert store.read().count() == 5


def test_read_plan_prunes_partitions(spark, tmp_path):
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery, read_query_grouped

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    # two samples on different days
    writer.write(wr("m", [], [(1.0, 1704067200000), (2.0, 1704240000000)]))
    q = ReadQuery(start_ms=1704240000000, end_ms=1704326400000)  # day 3 only
    df = read_query_grouped(store.read(), q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the derived ts_date predicate must appear in the partition filters
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "ts_date" in pf and "2024-01-03" in pf
    assert [r["max_0"] for r in df.collect()] == [2.0]


def test_read_plan_pushes_name_filter(spark, tmp_path):
    """F3 metric-name equality must reach the parquet scan as a pushed
    filter (the MergeTree primary-key-prefix analog: the page column index
    on the file-internal (metric_name, labels, ts) sort order skips pages
    by name)."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery, read_query_grouped

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    writer.write(wr("up", [], [(1.0, 1704067200000)]))
    writer.write(wr("down", [], [(2.0, 1704067200000)]))
    q = ReadQuery(
        start_ms=1704067200000,
        matchers=(LabelMatcher(MatcherType.EQ, "__name__", "up"),),
    )
    df = read_query_grouped(store.read(), q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    # (the plan string elides long filter lists; match prefixes)
    assert "EqualTo(met" in pushed
    assert "GreaterThanOrEqual(ts," in pushed


def test_read_plan_pushes_name_regex_prefix(spark, tmp_path):
    """F5 on a regex with a literal prefix also reaches the scan as a
    pushed StringStartsWith (rlike itself cannot be pushed), and the
    result is unchanged."""
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery, read_query_grouped

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    writer.write(wr("go_goroutines", [], [(1.0, 1704067200000)]))
    writer.write(wr("gone", [], [(2.0, 1704067200000)]))
    q = ReadQuery(
        start_ms=1704067200000,
        matchers=(LabelMatcher(MatcherType.RE, "__name__", "go_.*"),),
    )
    df = read_query_grouped(store.read(), q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "StringStart" in pushed
    assert [r["metric_name"] for r in df.collect()] == ["go_goroutines"]


def _shuffled_samples(spark, seed: int):
    """Rows over two days, several names and labelsets, in random order."""
    import random

    from remote_tsdb_clickhouse_spark.model import SAMPLES_SCHEMA

    base = datetime(2024, 1, 1, 22)
    rows = [
        (
            base + timedelta(seconds=15 * i + seed),
            f"m{s % 5}",
            [f"instance=i{s}", f"job=j{s % 3}"],
            float(i),
        )
        for s in range(40)
        for i in range(600)  # 2.5 h: crosses midnight
    ]
    random.Random(seed).shuffle(rows)
    return spark.createDataFrame(rows, SAMPLES_SCHEMA).repartition(3)


#: Labelsets whose exact array<string> order a joined-string sort key gets
#: wrong: a "\x00" inside a value, a list that is a prefix of another, an
#: empty list, and non-ASCII values (code-point order is UTF-8 byte order;
#: UTF-16 order would put the emoji before the ligature).
_ADVERSARIAL_LABELS = [
    [],
    ["a=x"],
    ["a=x", "b=y"],
    ["a=x\x00b=y"],
    ["a=x\x00"],
    ["a=x", "b=y", "c=z"],
    ["a=xé"],
    ["a=x\ufb01"],
    ["a=x\U0001f600"],
    ["a=x", "b=\U0001f600"],
]


def _adversarial_table(seed: int) -> pa.Table:
    """Driver-side rows (the ``/write`` landing input) of two names times
    the labelsets above, one sample every 4 minutes from 22:00 to 00:36,
    in random order."""
    import random

    base = 1704146400  # 2024-01-01 22:00 UTC
    rows = [
        (base + 240 * i, name, labels, float(i))
        for name in ("m0", "m\x00")
        for labels in _ADVERSARIAL_LABELS
        for i in range(40)
    ]
    random.Random(seed).shuffle(rows)
    return pa.table(list(map(list, zip(*rows))), schema=ARROW_SAMPLES_SCHEMA)


def test_store_files_sorted_after_every_write(spark, tmp_path, unsorted_store_files):
    """Every write path must leave each file physically sorted by
    (metric_name, labels, ts): the page skipping behind a pushed name
    filter depends on it.  A sort that does not lead with the partition
    column is silently replaced by Spark's own sort on ts_date alone, and
    the Arrow landing must reproduce Spark's array<string> order exactly."""
    store = make_store(spark, tmp_path)
    root = str(tmp_path / "samples")
    store.append(_shuffled_samples(spark, 1))
    store.append(_shuffled_samples(spark, 2))
    assert sorted(p.name for p in (tmp_path / "samples").iterdir() if p.is_dir()) == [
        "ts_date=2024-01-01",
        "ts_date=2024-01-02",
    ]
    assert unsorted_store_files(root) == []
    store.append(_adversarial_table(3))
    store.append(_adversarial_table(4))
    assert unsorted_store_files(root) == []
    # survivors of both days are read back from several files and rewritten
    store.delete_time_range(datetime(2024, 1, 1, 23), datetime(2024, 1, 2, 0, 10))
    assert unsorted_store_files(root) == []
    store.compact(files_per_partition=1)
    assert unsorted_store_files(root) == []
    # 280 of each series' 600 samples per batch fall in (23:00, 00:10],
    # and 17 of each adversarial series' 40
    n_adversarial = 2 * 2 * len(_ADVERSARIAL_LABELS) * (40 - 17)
    assert store.read().count() == 2 * 40 * (600 - 280) + n_adversarial


def test_failed_landing_publishes_nothing(spark, tmp_path, monkeypatch):
    """A request spanning two days whose second file fails to write leaves
    the store as it was: no data file and no temporary file.  Neither does
    a table in another schema."""
    from remote_tsdb_clickhouse_spark.sources import samples_store

    root = tmp_path / "samples"
    writer = TimeseriesWriter(SamplesStore(spark, str(root)))
    day = 1704067200000  # 2024-01-01 00:00 UTC
    real_write, written = samples_store.pq.write_table, []

    def failing_second_write(*args, **kwargs):
        if written:
            raise OSError("disk full")
        written.append(args[1])
        return real_write(*args, **kwargs)

    monkeypatch.setattr(samples_store.pq, "write_table", failing_second_write)
    with pytest.raises(OSError, match="disk full"):
        writer.write(wr("m", [], [(1.0, day), (2.0, day + 86_400_000)]))
    assert len(written) == 1
    assert [p for p in root.rglob("*") if p.is_file()] == []
    # a table in another schema (a nullable list element) is refused whole
    other = write_request_rows(wr("m", [], [(1.0, day)]))
    other = other.cast(other.schema.set(2, pa.field("labels", pa.list_(pa.string()), nullable=False)))
    with pytest.raises(ValueError, match="expected"):
        writer.store.append(other)
    assert [p for p in root.rglob("*") if p.is_file()] == []
    monkeypatch.undo()
    assert writer.write(wr("m", [], [(1.0, day)])) == 1
    assert [r.value for r in writer.store.read().collect()] == [1.0]


def _rows_by_bits(rows):
    """(epoch second, name, labels, value bits) multiset of ``rows``."""
    return Counter((s, n, tuple(lb), _bits(v)) for s, n, lb, v in rows)


def test_landed_files_match_spark_format(spark, tmp_path):
    """A /write lands parquet in Spark's own file format, so landed files
    and Spark-written ones (import_tsv, compact) form one store: one
    schema for pyarrow.dataset, the same rows through store.read()."""
    import pyarrow.dataset as ds

    root = tmp_path / "samples"
    store = SamplesStore(spark, str(root))
    writer = TimeseriesWriter(store)
    day = 1704067200000  # 2024-01-01 00:00 UTC
    writer.write(
        wr("up", [("job", "a"), ("path", "/ü")], [(float(i), day + i * 15_000) for i in range(64)])
    )
    writer.write(wr("down", [], [(-0.0, day - 1000), (float("inf"), day)]))
    landed = sorted(glob.glob(f"{root}/*/*.parquet"))
    assert len(landed) == 3
    # the schema Spark gives the same rows from createDataFrame
    spark_schema = ARROW_SAMPLES_SCHEMA.set(0, pa.field("ts", pa.timestamp("ns"), nullable=False))
    for f in landed:
        assert pq.read_schema(f).remove_metadata() == spark_schema
        md = pq.ParquetFile(f).metadata
        assert md.schema.column(0).physical_type == "INT96"
        assert b"ARROW:schema" not in (md.metadata or {})
        name = md.row_group(0).column(1)
        assert name.path_in_schema == "metric_name"
        assert name.has_column_index and name.has_offset_index
    tsv = tmp_path / "dump.tsv"
    tsv.write_text("up\tjob=b\t1704067230000\t2.5\nup\t\t1704153600000\t-1.0\n")
    assert store.import_tsv(str(tsv)) == 2

    def spark_rows():
        return _rows_by_bits(
            (r[0], r[1], r[2], r[3])
            for r in store.read()
            .select(F.col("ts").cast("long"), "metric_name", "labels", "value")
            .collect()
        )

    def arrow_rows():
        # Spark writes file-derived frames as nullable columns, so the
        # schemas differ in nullability only: they unify, and the dataset
        # reads the same rows whichever file's schema it starts from
        files = sorted(glob.glob(f"{root}/*/*.parquet"))
        unified = pa.unify_schemas([pq.read_schema(f) for f in files])
        got = set()
        for schema, order in [(unified, files), (None, files), (None, files[::-1])]:
            t = ds.dataset(order, format="parquet", schema=schema).to_table()
            rows = _rows_by_bits(
                zip(
                    [ns // 10**9 for ns in t["ts"].cast(pa.int64()).to_pylist()],
                    t["metric_name"].to_pylist(),
                    t["labels"].to_pylist(),
                    t["value"].to_pylist(),
                )
            )
            got.add(frozenset(rows.items()))
        assert len(got) == 1
        return rows

    before = spark_rows()
    assert sum(before.values()) == 68
    assert arrow_rows() == before
    store.compact(files_per_partition=1)
    assert spark_rows() == before
    assert arrow_rows() == before

    # the first and last second of years 1-9999 land and read back exactly
    edge = SamplesStore(spark, str(tmp_path / "edge"))
    TimeseriesWriter(edge).write(wr("m", [], [(1.0, MIN_TS_S * 1000), (2.0, MAX_TS_S * 1000 + 999)]))
    got = edge.read().select(F.col("ts").cast("long"), F.col("ts_date").cast("string"), "value")
    assert sorted(tuple(r) for r in got.collect()) == [
        (MIN_TS_S, "0001-01-01", 1.0),
        (MAX_TS_S, "9999-12-31", 2.0),
    ]


def test_tsv_export_roundtrip(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    writer.write(
        wr(
            "up",
            [("job", "a"), ("q", "0.99")],
            [(1.5, 1704067200123), (0.125, 1704153600000)],
        )
    )
    writer.write(wr("bare", [], [(2.0, 1704067260000)]))  # empty labelset
    out = tmp_path / "dump_out"
    assert store.export_tsv(str(out)) == 3

    # re-import into a second store: value-exact round trip
    store2 = SamplesStore(spark, str(tmp_path / "samples2"))
    assert store2.import_tsv(str(out)) == 3
    a = sorted(tuple(r) for r in store.read().collect())
    b = sorted(tuple(r) for r in store2.read().collect())
    assert a == b


def test_tsv_export_time_slice_bounds(spark, tmp_path):
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    writer.write(
        wr("up", [("job", "a")], [(1.0, 1704067200000), (2.0, 1704153600000), (3.0, 1704240000000)])
    )
    out = tmp_path / "slice_out"
    # F1/F2: inclusive both ends, ms//1000 truncation
    n = store.export_tsv(str(out), start_ms=1704153600999, end_ms=1704240000000)
    assert n == 2
    got = spark.read.csv(
        str(out), sep="\t",
        schema="metric_name STRING, labels_str STRING, ts_ms LONG, value DOUBLE",
    )
    assert sorted(r["value"] for r in got.collect()) == [2.0, 3.0]


def test_tsv_roundtrip_randomized_sweep(spark, tmp_path):
    """Seeded randomized TSV export/import round trip: many series across
    several day partitions with format-legal special characters in label
    values (slashes, colons, equals in the value part) and extreme
    doubles (1e308, 5e-324, -0.0, 17-significant-digit sums).  The
    re-imported store must equal the original bit-for-bit — values
    compared via their IEEE bit pattern so -0.0 vs 0.0 and last-ulp
    drift in the shortest-round-trip printing would be caught.  Labels
    compare as sorted sets: the raw store preserves request order while
    ``import_tsv`` canonicalizes via ``array_sort`` — the same
    normalization every query-facing read applies (P2 ``arraySort``
    parity, ``read_plan.py``), so label ORDER is explicitly not part of
    the round-trip contract; membership and exact bytes are."""
    import random
    import struct

    rng = random.Random(401)
    base_ms = 1704067200000  # 2024-01-01
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)

    extreme = [1e308, 5e-324, -0.0, 0.1 + 0.2, -1e-300, 123456789.123456789]
    label_pool = [
        ("instance", "10.0.0.1:9100"),
        ("path", "/api/v1/query"),
        ("q", "0.999"),
        ("expr", "a=b"),  # '=' inside the value: split must be on the FIRST '='
        ("job", "node_exporter"),
    ]
    n_rows = 0
    for i in range(30):
        name = rng.choice(["up", "go_goroutines", "http:requests:rate5m", f"m_{i}"])
        labels = rng.sample(label_pool, rng.randint(0, 3))
        samples = []
        for _ in range(rng.randint(1, 6)):
            t = base_ms + rng.randrange(4) * 86_400_000 + rng.randrange(86_400) * 1000
            v = rng.choice(extreme) if rng.random() < 0.3 else rng.uniform(-1e6, 1e6)
            samples.append((v, t))
        writer.write(wr(name, labels, samples))
        n_rows += len(samples)

    out = tmp_path / "sweep_dump"
    # duplicate (series, ts) rows may exist across writes; export counts rows
    assert store.export_tsv(str(out)) == store.read().count()

    store2 = SamplesStore(spark, str(tmp_path / "samples_rt"))
    assert store2.import_tsv(str(out)) == store.read().count()

    def canon(df):
        rows = []
        for r in df.collect():
            rows.append(
                (
                    r["metric_name"],
                    tuple(sorted(r["labels"])),
                    r["ts"],
                    struct.pack("<d", r["value"]),
                )
            )
        return sorted(rows)

    assert canon(store.read()) == canon(store2.read())


def test_delete_time_range_randomized_sweep(spark, tmp_path):
    """Seeded randomized sweep of S8 range deletes: a 6-day store takes a
    sequence of deletes with arbitrary second-offset bounds — some
    spanning multiple day partitions, some entirely inside one, some
    matching nothing.  After each delete the surviving rows must equal a
    Python filter with the exact (start, end] convention, and day
    directories whose rows were all deleted must be gone from disk while
    untouched days' directories remain."""
    import random
    from datetime import timedelta

    rng = random.Random(2003)
    base = datetime(2024, 1, 1)
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)

    live = []  # (ts_datetime, name, labels_tuple, value)
    base_ms = 1704067200000
    for i in range(25):
        name = rng.choice(["up", "cpu"])
        labels = [("job", rng.choice(["a", "b"]))]
        samples = []
        for _ in range(rng.randint(2, 8)):
            off_s = rng.randrange(6 * 86_400)
            samples.append((float(rng.randint(0, 1000)), base_ms + off_s * 1000))
        writer.write(wr(name, labels, samples))
        for v, t in samples:
            live.append((base + timedelta(seconds=(t - base_ms) // 1000), name,
                         ("job=" + labels[0][1],), v))

    def snapshot():
        return sorted(
            (r["ts"], r["metric_name"], tuple(r["labels"]), r["value"])
            for r in store.read().collect()
        )

    assert snapshot() == sorted(live)

    for trial in range(4):
        lo_s = rng.randrange(6 * 86_400)
        span = rng.choice([rng.randrange(3600), rng.randrange(86_400 * 3), 10])
        start = base + timedelta(seconds=lo_s)
        end = base + timedelta(seconds=min(lo_s + span, 6 * 86_400))
        store.delete_time_range(start, end)
        live = [row for row in live if not (start < row[0] <= end)]
        assert snapshot() == sorted(live), (trial, start, end)

        on_disk = {p.name[8:] for p in (tmp_path / "samples").iterdir()
                   if p.is_dir() and p.name.startswith("ts_date=")}
        want_days = {row[0].date().isoformat() for row in live}
        assert on_disk == want_days, (trial, start, end)

    assert live  # the delete sequence must not have emptied the store


def test_compact_randomized_content_identity_sweep(spark, tmp_path):
    """Seeded randomized compaction sweep: many small appends across 3
    days (including duplicate (series, ts) rows from overlapping writes
    and extreme doubles), then compact at random files_per_partition
    targets.  Compaction is a physical rewrite only — the multiset of
    rows must be bit-identical before and after (values compared via
    IEEE bit patterns), every remaining day must hit the file target,
    and a post-compaction write must still append cleanly."""
    import random
    import struct

    rng = random.Random(2111)
    base_ms = 1704067200000
    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)

    extreme = [1e308, 5e-324, -0.0, 0.1 + 0.2]
    for i in range(12):
        name = rng.choice(["up", "cpu", "io"])
        labels = [("job", rng.choice(["a", "b"]))]
        samples = []
        for _ in range(rng.randint(1, 6)):
            t = base_ms + rng.randrange(3 * 86_400) * 1000
            v = rng.choice(extreme) if rng.random() < 0.25 else rng.uniform(-1e6, 1e6)
            samples.append((v, t))
        writer.write(wr(name, labels, samples))

    def canon():
        return sorted(
            (r["ts"], r["metric_name"], tuple(r["labels"]),
             struct.pack("<d", r["value"]))
            for r in store.read().collect()
        )

    before = canon()
    for target in [rng.randint(1, 3), 1]:
        store.compact(files_per_partition=target)
        assert canon() == before, target
        for day_dir in (tmp_path / "samples").glob("ts_date=*"):
            n_files = len(list(day_dir.glob("*.parquet")))
            assert n_files <= target, (day_dir.name, n_files, target)

    writer.write(wr("up", [("job", "a")], [(42.0, base_ms + 1000)]))
    assert len(canon()) == len(before) + 1


def test_partition_pruning_keeps_the_end_instant_day(spark, tmp_path):
    """Mutation screen M69 (survived batch 12 unmutated: the pruning test
    queried a window whose end fell strictly inside the last day).  The
    derived ts_date predicate must keep the partition holding the END
    instant itself: F2's upper bound is inclusive, and a sample at
    exactly end_ms lives in the end day's partition — a `<` on the
    partition date silently prunes it while the ts filter would keep it."""
    from remote_tsdb_clickhouse_spark.plans.read_plan import ReadQuery, read_query_grouped

    store = make_store(spark, tmp_path)
    writer = TimeseriesWriter(store)
    # one sample mid-day-2, one at EXACTLY midnight of day 3
    writer.write(wr("m", [], [(1.0, 1704196800000), (2.0, 1704240000000)]))
    q = ReadQuery(start_ms=1704153600000, end_ms=1704240000000)  # end = day-3 00:00:00Z
    got = sorted(r["max_0"] for r in read_query_grouped(store.read(), q).collect())
    assert got == [1.0, 2.0]  # the midnight sample is IN (inclusive F2 upper)

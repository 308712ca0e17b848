"""Parquet-backed canonical samples table (SURVEY §2.1 S5-S8).

The reference's storage is one ClickHouse MergeTree table ordered by
``(metric_name, labels, updated_at)`` and partitioned implicitly by time
(reference ``README.md:17-27``).  The Spark-native equivalent:

- **Parquet, partitioned by** ``ts_date=date(ts)`` — partition pruning
  serves the time-range predicates F1/F2 exactly where MergeTree's primary
  key prunes granules by time.
- **Two writers, one file format.**  Rows that already sit on the driver
  as a ``pyarrow.Table`` (one ``/write``) are landed by ``append`` itself
  with pyarrow, with no Spark job: one sorted file per date partition, in
  the format Spark writes (INT96 ``ts``, snappy, dictionary-encoded
  ``ts``/``metric_name``/``labels``, plain ``value``, page index, no
  ``ARROW:schema`` blob).  DataFrames (streaming batches, ``import_tsv``,
  ``compact``, ``delete_time_range``) go through
  :func:`write_sorted_partitions`.
- **Sorted within files by** ``(metric_name, labels, ts)``: every write
  sorts by ``SORT_KEYS = (ts_date, metric_name, labels, ts)``; the Arrow
  landing reproduces Spark's ``array<string>`` order exactly
  (:func:`labels_sort_key`).  A partitioned Spark write needs its
  rows ordered by the partition column; when the requested sort does not
  start with it, Spark replaces that sort with one on ``ts_date`` alone and
  the files come out unsorted.  With the partition column leading, the
  requirement is already met and the order survives.  What prunes is
  parquet's per-page column index on ``metric_name``: a pushed
  ``metric_name`` predicate skips the pages whose min/max exclude it, like
  the MergeTree primary-key prefix skips granules.  Row-group statistics
  do not help here, since a compacted day is one row group.  Series rows
  are physically adjacent too (cheap grouping).  Stores written before the
  partition column led the sort stay unsorted until one :meth:`compact`
  rewrites them.
- **Append-atomicity**: a DataFrame ``append()`` lands via parquet's
  committed-file protocol; an Arrow ``append()`` writes every file under a
  dot-prefixed temporary name (skipped by every reader) and renames them
  into place only once all are written, so a failed write publishes
  nothing and no reader sees a partial file — the analog of the
  reference's per-request transaction (``write.go:14-22,60``).  A request
  spanning two days publishes by two renames.
- **Range delete (S8)**: the reference uses ``ALTER TABLE ... DELETE WHERE
  updated_at > a AND updated_at <= b`` for day reimports
  (``README.md:163-167``); here it is a partition-scoped rewrite using
  dynamic partition overwrite — only partitions intersecting the range are
  rewritten, the rest of the table is untouched.
- **Bulk import (S7)**: the reference pipes ``promtool tsdb dump`` TSV into
  ClickHouse (``README.md:144-161``); here ``import_tsv`` reads the same
  shape with ``spark.read.csv(sep='\\t')``.
- **Compaction**: per-request micro-batches create small files — ClickHouse
  "Too many parts" (``README.md:49-51``) has the exact Spark analog of the
  small-file problem; ``compact()`` rewrites chosen partitions at target
  file counts.
"""

from __future__ import annotations

import os
import threading
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.model import (
    ARROW_SAMPLES_SCHEMA,
    PARTITION_COLUMN,
    PARTITIONED_SAMPLES_SCHEMA,
    SAMPLES_FIELDS,
)


#: Physical row order of every store file.  The partition column leads so
#: that the partitioned writer's own ordering requirement is a prefix of it
#: (see the module docstring); the rest is the MergeTree ``ORDER BY``.
SORT_KEYS = (PARTITION_COLUMN, "metric_name", "labels", "ts")


def write_sorted_partitions(df: DataFrame, path: str, mode: str, dynamic: bool = False) -> None:
    """Write ``df`` (carrying ``ts_date``) as parquet partitioned by date,
    each file sorted by ``(metric_name, labels, ts)``.

    ``dynamic`` selects dynamic partition overwrite: only the partitions
    present in ``df`` are replaced.
    """
    w = df.sortWithinPartitions(*SORT_KEYS).write.partitionBy(PARTITION_COLUMN)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.mode(mode).parquet(path)


def labels_sort_key(labels: pa.ChunkedArray) -> pa.Array:
    """One string per ``labels`` list whose byte order is Spark's
    ``array<string>`` order: element by element in UTF-8 byte order, a
    shorter prefix first.

    Each element ends in ``\\x00\\x01`` and a ``\\x00`` inside an element
    becomes ``\\x00\\x02``, so an element that ends sorts before every
    longer one sharing its bytes, and no element can fake a boundary.
    A plain separator-joined key misorders ``["a", "b"]`` and
    ``["a\\x00b"]`` when the separator is ``\\x00``.
    """
    lists = labels.combine_chunks()
    elements = pc.binary_join_element_wise(
        pc.replace_substring(lists.values, "\x00", "\x00\x02"), "", "\x00\x01"
    )
    return pc.binary_join(pa.ListArray.from_arrays(lists.offsets, elements), "")


class SamplesStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # Spark and the Arrow landing must agree on one root: a scheme-less
        # path is made absolute here, where pyarrow would reject it as a URI
        # and Spark would resolve it against the JVM's working directory
        self.path = path if urlparse(path).scheme else os.path.abspath(path)
        self._landing: tuple[pafs.FileSystem, str] | None = None
        # concurrent appends to one parquet root race on the shared
        # `_temporary` commit-staging dir (one job's cleanup deletes the
        # other's in-flight task files -> silently lost rows; observed under
        # threaded HTTP writers).  Appends are serialized per store process —
        # the reference has the same discipline (one adapter process, inserts
        # serialized by ClickHouse server-side); multi-writer deployments go
        # through the streaming ingest, whose micro-batches serialize anyway.
        # A cluster-grade multi-writer store swaps this for a table format
        # with a transactional commit protocol (Delta/Iceberg).
        self._append_lock = threading.Lock()

    # -- write path ---------------------------------------------------------

    def append(self, rows: DataFrame | pa.Table) -> None:
        """Append canonical-schema rows (one micro-batch / one request).

        A DataFrame goes through Spark's partitioned writer; a
        ``pyarrow.Table`` in ``ARROW_SAMPLES_SCHEMA`` (rows already on the
        driver, e.g. one ``/write``) is landed by :meth:`_land` with no
        Spark job.  Either way every file
        gets the MergeTree-like physical order and sits in its date
        partition.
        """
        with self._append_lock:
            if isinstance(rows, pa.Table):
                self._land(rows)
                return
            write_sorted_partitions(
                rows.select(*SAMPLES_FIELDS).withColumn(PARTITION_COLUMN, F.to_date("ts")),
                self.path,
                "append",
            )

    def landing(self) -> tuple[pafs.FileSystem, str]:
        """The pyarrow filesystem and root that Arrow appends land under
        (resolved once).  Raises ``ValueError``/``OSError`` when pyarrow
        cannot open the path, e.g. an ``s3a://`` URI."""
        if self._landing is None:
            self._landing = pafs.FileSystem.from_uri(self.path)
        return self._landing

    def _land(self, table: pa.Table) -> None:
        """Write ``table`` as one parquet file per date partition, in
        Spark's own file format, sorted by ``SORT_KEYS``.

        Every file is written under a dot-prefixed temporary name (which
        Spark's file listing and the store's readers skip) before any is
        renamed into place, so a failed write publishes nothing.  The files
        carry no Spark key-value metadata (pyarrow writes none without the
        ``ARROW:schema`` blob), so Spark reads their INT96 ``ts`` under
        ``spark.sql.parquet.int96RebaseModeInRead``, ``CORRECTED`` by
        default: no calendar rebase.  Called under the append lock.
        """
        if table.schema != ARROW_SAMPLES_SCHEMA:
            raise ValueError(f"expected {ARROW_SAMPLES_SCHEMA}, got {table.schema}")
        fs, root = self.landing()
        days = pc.cast(table.column("ts"), pa.date32())
        labels_key = labels_sort_key(table.column("labels"))
        keys = pa.table(
            [days, table.column("metric_name"), labels_key, table.column("ts")], names=SORT_KEYS
        )
        order = pc.sort_indices(keys, [(k, "ascending") for k in SORT_KEYS])
        table, days = table.take(order), days.take(order)
        staged = []
        try:
            start = 0
            for run in pc.value_counts(days).to_pylist():
                day, n = run["values"], run["counts"]
                part_dir = f"{root}/{PARTITION_COLUMN}={day.isoformat()}"
                name = f"part-{uuid.uuid4()}.c000.snappy.parquet"
                tmp, final = f"{part_dir}/.{name}.tmp", f"{part_dir}/{name}"
                fs.create_dir(part_dir, recursive=True)
                staged.append((tmp, final))
                pq.write_table(
                    table.slice(start, n),
                    tmp,
                    filesystem=fs,
                    compression="snappy",
                    use_dictionary=["ts", "metric_name", "labels.list.element"],
                    use_deprecated_int96_timestamps=True,
                    write_page_index=True,
                    store_schema=False,
                )
                start += n
        except BaseException:
            for tmp, _ in staged:
                try:
                    fs.delete_file(tmp)
                except OSError:
                    pass
            raise
        for tmp, final in staged:
            fs.move(tmp, final)

    # -- read path ----------------------------------------------------------

    def read(self, with_partition_col: bool = True) -> DataFrame:
        """Scan the table.

        Keeps ``ts_date`` by default so the read plan can attach its
        partition-pruning predicate (``plans.read_plan
        .partition_pruning_filter``); metric_name/ts predicates additionally
        skip parquet pages via the column index (``PushedFilters`` in
        ``.explain``).
        """
        df = self.spark.read.schema(PARTITIONED_SAMPLES_SCHEMA).parquet(self.path)
        return df if with_partition_col else df.select(*SAMPLES_FIELDS)

    def is_empty(self) -> bool:
        try:
            return self.read().limit(1).count() == 0
        except Exception:
            return True

    # -- maintenance (S7/S8) ------------------------------------------------

    def delete_time_range(self, start_exclusive, end_inclusive) -> None:
        """S8: delete rows with ``ts > start AND ts <= end``.

        Partition-scoped rewrite: with dynamic partition overwrite only the
        date partitions intersecting the range are replaced (with their
        surviving rows); all other partitions are untouched files.

        A partition whose rows are *all* in the range has no survivors, so
        the dynamic overwrite never rewrites it (overwrite only touches
        partitions present in the written data) — exactly the day-reimport
        case (reference ``README.md:163-167``).  Those partitions are
        removed explicitly via the Hadoop FileSystem API.  The two distinct
        partition lists collected here are bounded by the number of calendar
        days in the delete range — driver-safe at any corpus size.
        """
        cond = (F.col("ts") > F.lit(start_exclusive)) & (F.col("ts") <= F.lit(end_inclusive))
        affected = (
            self.read()
            .withColumn(PARTITION_COLUMN, F.to_date("ts"))
            .where(
                (F.col(PARTITION_COLUMN) >= F.to_date(F.lit(start_exclusive)))
                & (F.col(PARTITION_COLUMN) <= F.to_date(F.lit(end_inclusive)))
            )
        )
        affected_dates = {
            r[0] for r in affected.select(PARTITION_COLUMN).distinct().collect()
        }
        # localCheckpoint severs lineage from self.path so the overwrite is
        # not a read-from-target (at fleet scale: stage to a fresh dir and
        # swap, same pattern one level up)
        survivors = affected.where(~cond).localCheckpoint()
        survivor_dates = {
            r[0] for r in survivors.select(PARTITION_COLUMN).distinct().collect()
        }
        if survivor_dates:
            write_sorted_partitions(survivors, self.path, "overwrite", dynamic=True)
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        for d in sorted(affected_dates - survivor_dates):
            p = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{PARTITION_COLUMN}={d.isoformat()}")
            fs = p.getFileSystem(hconf)
            fs.delete(p, True)

    def import_tsv(self, tsv_path: str) -> int:
        """S7: bulk import ``promtool tsdb dump``-shaped TSV:
        ``metric_name<TAB>labels(comma-joined k=v)<TAB>epoch_ms<TAB>value``.

        Day-parallel by construction: Spark splits the input files; the
        append partitions by date.  Returns imported row count.
        """
        raw = self.spark.read.csv(
            tsv_path,
            sep="\t",
            schema="metric_name STRING, labels_str STRING, ts_ms LONG, value DOUBLE",
        )
        df = raw.select(
            F.timestamp_seconds(F.col("ts_ms") / 1000).alias("ts"),
            "metric_name",
            F.array_sort(
                F.when(
                    F.coalesce(F.col("labels_str"), F.lit("")) == "",
                    F.array().cast("array<string>"),
                ).otherwise(F.split("labels_str", ","))
            ).alias("labels"),
            "value",
        ).withColumn("ts", F.date_trunc("second", "ts"))
        n = df.count()
        self.append(df)
        return n

    def export_tsv(self, out_path: str, start_ms: int = 0, end_ms: int = 0) -> int:
        """S7 inverse: dump the store (optionally a time slice) as the same
        promtool-shaped TSV that :meth:`import_tsv` consumes —
        ``metric_name<TAB>labels<TAB>epoch_ms<TAB>value`` — for
        engine-to-engine backfill (the reference moves days between stores
        with exactly this pipe shape, ``README.md:144-167``).

        Time bounds use the F1/F2 convention (``ms // 1000`` truncation,
        inclusive upper bound, 0 = open).  The write is executor-parallel
        (one file per partition); the round trip through ``import_tsv`` is
        value-exact: labels stay comma-joined in stored sorted order,
        timestamps are epoch ms of the second-truncated store value, and
        doubles print in shortest-round-trip form.  Returns exported rows.
        """
        df = self.read()
        if start_ms:
            df = df.where(F.col("ts") >= F.timestamp_seconds(F.lit(start_ms // 1000)))
        if end_ms:
            df = df.where(F.col("ts") <= F.timestamp_seconds(F.lit(end_ms // 1000)))
        from pyspark.sql import Observation

        out = df.select(
            "metric_name",
            F.array_join("labels", ",").alias("labels_str"),
            (F.col("ts").cast("long") * 1000).alias("ts_ms"),
            "value",
        )
        # observe the write itself (one scan): a separate count() would
        # re-execute the plan and could diverge from the written files if
        # the store is appended concurrently
        obs = Observation()
        out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").option(
            "sep", "\t"
        ).csv(out_path)
        return int(obs.get["n"])

    def compact(self, files_per_partition: int = 1) -> None:
        """Rewrite the table at a target file count per date partition —
        the OPTIMIZE analog for the micro-batch small-file problem."""
        df = self.read().withColumn(PARTITION_COLUMN, F.to_date("ts")).localCheckpoint()
        write_sorted_partitions(
            df.repartition(files_per_partition, F.col(PARTITION_COLUMN)),
            self.path,
            "overwrite",
            dynamic=True,
        )

"""Parquet-backed canonical samples table (SURVEY §2.1 S5-S8).

The reference's storage is one ClickHouse MergeTree table ordered by
``(metric_name, labels, updated_at)`` and partitioned implicitly by time
(reference ``README.md:17-27``).  The Spark-native equivalent:

- **Parquet, partitioned by** ``ts_date=date(ts)`` — partition pruning
  serves the time-range predicates F1/F2 exactly where MergeTree's primary
  key prunes granules by time.
- **Sorted within files by** ``(metric_name, labels, ts)``: every write
  goes through :func:`write_sorted_partitions`, which sorts by
  ``(ts_date, metric_name, labels, ts)``.  A partitioned write needs its
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
- **Append-atomicity**: each ``append()`` lands via parquet's committed-file
  protocol — readers never see partial batches, the analog of the
  reference's per-request transaction (``write.go:14-22,60``).
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.model import (
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


class SamplesStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # concurrent appends to one parquet root race on the shared
        # `_temporary` commit-staging dir (one job's cleanup deletes the
        # other's in-flight task files -> silently lost rows; observed under
        # threaded HTTP writers).  Appends are serialized per store process —
        # the reference has the same discipline (one adapter process, inserts
        # serialized by ClickHouse server-side); multi-writer deployments go
        # through the streaming ingest, whose micro-batches serialize anyway.
        # A cluster-grade multi-writer store swaps this for a table format
        # with a transactional commit protocol (Delta/Iceberg).
        import threading

        self._append_lock = threading.Lock()

    # -- write path ---------------------------------------------------------

    def append(self, df: DataFrame) -> None:
        """Append canonical-schema rows (one micro-batch / one request).

        Every file gets the MergeTree-like physical order; partitionBy(date)
        keeps time pruning.
        """
        with self._append_lock:
            write_sorted_partitions(
                df.select(*SAMPLES_FIELDS).withColumn(PARTITION_COLUMN, F.to_date("ts")),
                self.path,
                "append",
            )

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

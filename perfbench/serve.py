"""Launch the adapter as its own process for the benchmark.

    python3 perfbench/serve.py --store DIR --ready FILE --heap-out FILE
                               [--preload TSV] [--trace-out FILE]

Builds the server through the public entry point
``server.__main__.build_server(parse_args([...]))`` on an ephemeral loopback
port, optionally bulk-loads a generated TSV through
``SamplesStore.import_tsv`` and compacts it, then writes
``{"port": ...}`` to the ready file and serves until SIGTERM.  Once the
server has stopped it writes ``{"live_heap_bytes": ...}``, the JVM heap in
use after a full collection, to the heap-out file.

With ``--trace-out`` the layers' public functions are wrapped from outside
(``perfbench/tracing.py``) before the server is built; span recording starts
on SIGUSR1 and stops on SIGUSR2, and the spans are written to the given file on shutdown.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def live_heap_bytes(spark) -> int:
    """Heap in use after full collections: what the server keeps, however
    far the collector let the heap grow.  A collection can leave garbage
    that Spark's cleaner frees only after it (the blocks of a dropped local
    checkpoint), so collect until the figure stops falling."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(10):
        jvm.java.lang.System.gc()
        before, used = used, heap.getHeapMemoryUsage().getUsed()
        if before is not None and used > 0.99 * before:
            break
        time.sleep(0.5)
    return used


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--store", required=True)
    p.add_argument("--ready", required=True)
    p.add_argument("--heap-out", required=True)
    p.add_argument("--preload", default=None)
    p.add_argument("--trace-out", default=None)
    a = p.parse_args(argv)

    recorder = None
    if a.trace_out:
        from perfbench import tracing

        recorder = tracing.SpanRecorder()
        tracing.install_server_wrappers(recorder, a.store)

    from remote_tsdb_clickhouse_spark.server.__main__ import build_server, parse_args

    server = build_server(
        parse_args(["--http", "127.0.0.1:0", "--store", a.store, "--create-if-missing"])
    )
    from remote_tsdb_clickhouse_spark.session import get_spark

    spark = get_spark()  # getOrCreate: the session build_server made
    spark.sparkContext.setLogLevel("ERROR")
    if a.preload:
        from remote_tsdb_clickhouse_spark.sources.samples_store import SamplesStore

        store = SamplesStore(spark, a.store)
        store.import_tsv(a.preload)
        store.compact()

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    if recorder is not None:
        signal.signal(signal.SIGUSR1, lambda *_: recorder.enable())
        signal.signal(signal.SIGUSR2, lambda *_: recorder.disable())
    server.start()
    tmp = a.ready + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"port": server.port}, f)
    os.replace(tmp, a.ready)
    while not stop.wait(0.2):
        pass
    server.stop()
    with open(a.heap_out, "w") as f:
        json.dump({"live_heap_bytes": live_heap_bytes(spark)}, f)
    if recorder is not None:
        recorder.dump(a.trace_out)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

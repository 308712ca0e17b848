"""Tests of the benchmark's own parts: the seeded traffic generator, the
independent read model, and the trace analysis.  No Spark is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import oracle, tracing, traffic  # noqa: E402
from remote_tsdb_clickhouse_spark import codec, prompb  # noqa: E402
from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType  # noqa: E402
from remote_tsdb_clickhouse_spark.plans.read_plan import ReadHints, ReadQuery  # noqa: E402

START_MS = (traffic.DAY0_S + 3600) * 1000
NOW_S = traffic.DAY0_S + 30 * 3600


def _batches(seed, ks=(0, 1), targets=100):
    series = traffic.series_model(seed, targets)
    return [traffic.write_batch(seed, series, START_MS, k) for k in ks]


def _reads(seed, ks, targets=40):
    return [traffic.read_call(seed, targets, NOW_S, k) for k in ks]


def _tsv(seed):
    s = traffic.series_model(seed, 40)
    return list(traffic.preload_tsv_lines(s, traffic.preload_samples(seed, s, NOW_S - 3600, NOW_S, 15)))


def test_same_seed_gives_identical_bytes():
    assert [b.body for b in _batches(7)] == [b.body for b in _batches(7)]
    assert [c.body for c in _reads(7, range(50))] == [c.body for c in _reads(7, range(50))]
    assert _tsv(7) == _tsv(7)


def test_a_request_depends_only_on_seed_and_index():
    # a load generator builds requests on demand, in whatever order its
    # clients take them: the bytes must not depend on that order
    assert [b.body for b in _batches(7, (3, 1))] == [b.body for b in reversed(_batches(7, (1, 3)))]
    assert [c.body for c in _reads(7, (9, 2))] == [c.body for c in reversed(_reads(7, (2, 9)))]
    # consecutive batches carry consecutive scrapes
    a, b = _batches(7)
    assert max(t for _, t, _ in a.samples) < min(t for _, t, _ in b.samples)


def test_other_seed_gives_other_bytes():
    assert _batches(7, (0,))[0].body != _batches(8, (0,))[0].body
    assert [c.body for c in _reads(7, range(20))] != [c.body for c in _reads(8, range(20))]
    assert _tsv(7) != _tsv(8)


def test_series_model_carries_the_adversarial_labels():
    series = traffic.series_model(3, 40)
    assert len(series) == 40 * traffic.SERIES_PER_TARGET == 1000
    labels = Counter(lb for s in series for lb in s.labels)
    assert ("instance", "10.0.0.1:9100") in labels
    assert any("=" in v for (_, v) in labels)  # path=/api/v1?x=N
    assert ("re", "a.b*c") in labels
    assert ("remote", "clickhouse") in labels
    with_env = sum(1 for s in series if any(k == "env" for k, _ in s.labels))
    assert 0 < with_env < len(series)  # env is missing on some series
    for s in series:
        assert [k for k, _ in s.labels] == sorted(k for k, _ in s.labels)
    # exact shares: every seed has the same number of series per job
    per_job = Counter(dict(s.labels)["job"] for s in series)
    assert per_job == Counter(dict(s.labels)["job"] for s in traffic.series_model(4, 40))


def test_write_batch_is_a_full_send_with_duplicates_and_disorder():
    (batch,) = _batches(5, (0,))
    assert len(batch.samples) == traffic.BATCH_SAMPLES
    req = codec.decode_write_request(batch.body)
    series = traffic.series_model(5, 100)
    flat = []
    out_of_order = 0
    for i, ts in enumerate(req.timeseries):
        assert ts.labels == series[i].prompb_labels()
        stamps = [s.timestamp for s in ts.samples]
        out_of_order += stamps != sorted(stamps)
        flat += [(i, s.timestamp, s.value) for s in ts.samples]
    assert flat == batch.samples
    assert 0 < out_of_order < len(req.timeseries)
    per_second = Counter((i, t // 1000) for i, t, _ in batch.samples)
    dups = sum(n - 1 for n in per_second.values())
    assert 0 < dups < 3 * traffic.DUP_SHARE * len(batch.samples)
    assert any(t % 1000 for _, t, _ in batch.samples)  # sub-second stamps


def test_read_calls_cover_the_panel_shapes():
    calls = _reads(9, range(100))
    kinds = Counter(c.kind for c in calls)
    assert kinds["adhoc"] == 100 * traffic.ADHOC_SHARE
    for kind in ("raw_eq", "open_end", "nre_path", "neq_missing", "metachar",
                 "long_step", "long_clamp", "ignore_label"):
        assert kinds[kind] > 0, kind
    for c in calls:
        assert prompb.decode_read_request(codec.snappy_decompress(c.body)).queries == [c.query]
        if c.kind == "long_clamp":
            assert 0 < c.query.hints.range_ms < c.query.hints.step_ms
        if c.kind == "ignore_label":
            assert LabelMatcher(MatcherType.EQ, "remote", "clickhouse") in c.query.matchers
        if c.kind == "long_step":
            assert c.query.hints.step_ms > 2000
        assert (c.query.end_ms == 0) == (c.kind == "open_end")


def _model():
    s = [
        traffic.Series("m", (("env", "prod"), ("job", "a"))),
        traffic.Series("m", (("job", "a"), ("path", "/x?y=1"))),
        traffic.Series("n", (("job", "b"),)),
    ]
    m = oracle.ReadModel(s)
    for i, t, v in [(0, 10_500, 1.0), (0, 10_900, 3.0), (0, 10_100, 2.0), (0, 25_000, 4.0),
                    (1, 12_000, 5.0), (2, 12_000, 6.0)]:
        m.add(i, t, v)
    return m


def _q(*ms, start=0, end=0, step=0, rng=0):
    return ReadQuery(
        start_ms=start, end_ms=end,
        matchers=tuple(LabelMatcher(t, n, v) for t, n, v in ms),
        hints=ReadHints(step_ms=step, range_ms=rng),
    )


def test_model_dedups_by_max_and_orders_labels():
    got = _model().expected(_q((MatcherType.EQ, "__name__", "m")))
    assert got == [
        ((("__name__", "m"), ("env", "prod"), ("job", "a")), ((10_000, 3.0), (25_000, 4.0))),
        ((("__name__", "m"), ("job", "a"), ("path", "/x?y=1")), ((12_000, 5.0),)),
    ]


def test_model_matcher_semantics():
    m = _model()
    EQ, NEQ, RE, NRE = MatcherType.EQ, MatcherType.NEQ, MatcherType.RE, MatcherType.NRE

    def names(q):
        return [dict(labels)["__name__"] + str(len(labels)) for labels, _ in m.expected(q)]

    assert names(_q((NEQ, "env", "prod"))) == ["m3", "n2"]  # missing label matches NEQ
    assert names(_q((NRE, "env", "pr.*"))) == ["m3", "n2"]
    assert names(_q((RE, "job", "a"))) == ["m3", "m3"]
    assert names(_q((RE, "job", "."))) == ["m3", "m3", "n2"]  # fully anchored
    assert names(_q((RE, "__name__", "m|n"))) == ["m3", "m3", "n2"]
    assert names(_q((EQ, "remote", "clickhouse"), (EQ, "job", "b"))) == ["n2"]  # ignore-label
    assert names(_q((NEQ, "remote", "clickhouse"))) == ["m3", "m3", "n2"]


def test_model_time_bounds_and_buckets():
    m = _model()
    q = _q((MatcherType.EQ, "job", "a"), start=10_999, end=12_000)
    assert [s for _, s in m.expected(q)] == [((10_000, 3.0),), ((12_000, 5.0),)]
    assert oracle.bucket_seconds(2000, 0) is None
    assert oracle.bucket_seconds(2001, 0) == 1
    assert oracle.bucket_seconds(60_000, 0) == 30
    assert oracle.bucket_seconds(600_000, 120_000) == 60  # range < step clamps
    got = m.expected(_q((MatcherType.EQ, "env", "prod"), step=60_000))
    assert [s for _, s in got] == [((0, 4.0),)]  # 10 s and 25 s share a 30 s bucket: max


def test_self_time_subtracts_covered_child_time():
    spans = [
        (0, "parent", 0.0, 10.0, None, "r"),
        (1, "a", 1.0, 4.0, 0, "r"),
        (2, "b", 3.0, 5.0, 0, "r"),  # overlaps a: union is 1..5
        (3, "c", 9.0, 12.0, 0, "r"),  # clipped to the parent: 9..10
        (4, "leaf", 1.5, 2.0, 1, "r"),
    ]
    got = tracing.self_times(spans)
    assert got[0] == 10.0 - 4.0 - 1.0
    assert got[1] == 3.0 - 0.5
    assert got[4] == 0.5


def test_event_log_jobs_are_tagged_by_request(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {tracing.JOB_TAG: "read-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1001}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1004, "Finish Time": 1020},
         "Task Metrics": {"Executor Run Time": 15, "JVM GC Time": 2,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                          "Input Metrics": {"Records Read": 100}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1030},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    (job,) = tracing.parse_event_log(str(tmp_path))
    assert job == {
        "request": "read-1", "submitted": 1000, "tasks": 1,
        "run_ms": 15, "gc_ms": 2, "sched_ms": 3, "shuffle_bytes": 15, "records_read": 100,
    }


def test_layer_metrics_average_per_request_and_zero_bypassed_layers():
    rec = tracing.SpanRecorder()

    def handle(toggle):
        if toggle:
            toggle()
        rec.call("writer.flatten", rec.count, "writer.rows", 10)

    def write(rid, toggle=None):
        rec.begin_request(rid)
        rec.call("app.handle_write", handle, toggle)
        rec.end_request()

    write("w0", toggle=rec.enable)  # began unrecorded: stays unrecorded
    write("w1", toggle=rec.disable)  # began recorded: recorded whole
    rec.enable()
    write("w2")
    trace = json.loads(json.dumps({"spans": rec.spans, "counters": rec.counters}))
    assert {s[5] for s in trace["spans"]} == {"w1", "w2"}
    got = tracing.layer_metrics(trace, [], {"w0": 1.0, "w1": 1.0, "w2": 1.0})
    assert got["writer.rows"] == 10
    assert got["plan.build_ms"] == 0 and got["service.samples_returned"] == 0
    assert 990 < got["http.overhead_ms"] <= 1000


def test_benchmark_json_declares_what_run_py_reports():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)


def test_feed_builds_requests_past_the_prebuilt_ones():
    from perfbench import run

    made = []

    def make(k):
        made.append(k)
        return k

    feed = run.Feed(make, 2, prebuilt=2)
    assert made == [2, 3]
    assert [feed.next() for _ in range(4)] == [2, 3, 4, 5]
    assert made == [2, 3, 4, 5]
    warm = run.Feed(make, 0, 2, prebuilt=2)
    assert [warm.next(), warm.next(), warm.next()] == [0, 1, None]

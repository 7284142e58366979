"""Self-test of the benchmark's own helpers on canned input (no Spark).

    python3 perfbench/selftest.py

Covers the event-log reader, the plan walker, the percentile and
sample-count rule, span self time, the read-bytes probe, and the
metric-name and unit charset of ``BENCHMARK.json``. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import measure  # noqa: E402
import plans  # noqa: E402
import tracing  # noqa: E402


def _task(stage, run_ms, cpu_ns=0, sent=0, returned=0, py_ms=0, sw=0, spill=0):
    acc = [
        {"Name": eventlog.PY_SENT, "Update": str(sent)},
        {"Name": eventlog.PY_RETURNED, "Update": str(returned)},
        {"Name": eventlog.PY_RUN, "Update": str(py_ms)},
        {"Name": "time to initialize Python workers", "Update": "99999"},
    ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
        },
    }


def _stage(kind, sid, label, t):
    ev = {"Event": kind, "Stage Info": {"Stage ID": sid}}
    if kind == "SparkListenerStageSubmitted":
        ev["Stage Info"]["Submission Time"] = t
        ev["Properties"] = {"spark.job.description": label} if label else {}
    else:
        ev["Stage Info"]["Completion Time"] = t
    return ev


CANNED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0,
     "Properties": {"spark.job.description": "perfbench:wand:0"}},
    _stage("SparkListenerStageSubmitted", 0, "perfbench:wand:0", 1000),
    _task(0, 100, cpu_ns=50_000_000, sw=300),
    _task(0, 100, cpu_ns=50_000_000, sw=300),
    _stage("SparkListenerStageCompleted", 0, None, 1200),
    _stage("SparkListenerStageSubmitted", 1, "perfbench:wand:0", 1200),
    _task(1, 100, sent=1000, returned=10, py_ms=40),
    _task(1, 100, sent=1000, returned=10, py_ms=40),
    _task(1, 500, sent=1000, returned=10, py_ms=400, spill=7),
    _stage("SparkListenerStageCompleted", 1, None, 1900),
    # a stage of an unlabelled job is not attributed to anything
    _stage("SparkListenerStageSubmitted", 2, None, 2000),
    _task(2, 900),
    {"Event": "SparkListenerJobStart", "Job ID": 1,
     "Properties": {"spark.job.description": "build: dictionary writes"}},
    _stage("SparkListenerStageSubmitted", 3, "build: dictionary writes", 2100),
    _task(3, 70),
    _stage("SparkListenerStageCompleted", 3, None, 2200),
]


def test_eventlog() -> None:
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "app")
        with open(path, "w", encoding="utf-8") as f:
            for ev in CANNED_LOG:
                f.write(json.dumps(ev) + "\n\n")
        stats = eventlog.aggregate(eventlog.read_events(path))
    assert set(stats) == {"perfbench:wand:0", "build: dictionary writes"}, stats
    w = stats["perfbench:wand:0"]
    assert (w.jobs, w.tasks) == (1, 5)
    assert abs(w.executor_run_s - 0.9) < 1e-12
    assert abs(w.executor_cpu_s - 0.1) < 1e-12
    assert abs(w.gc_s - 0.025) < 1e-12
    assert (w.python_sent_bytes, w.python_returned_bytes) == (3000, 30)
    # the init-time accumulable is never read
    assert abs(w.python_run_s - 0.48) < 1e-12
    assert (w.shuffle_write_bytes, w.shuffle_read_bytes, w.spill_bytes) == (600, 15, 7)
    # slowest stage is stage 1 (700 ms wall): max 500 / median 100
    assert w.task_skew() == 5.0
    assert stats["build: dictionary writes"].executor_run_s == 0.07


class _Seq:
    def __init__(self, items):
        self.items = list(items)

    def iterator(self):
        it = iter(self.items)
        nxt = [next(it, None)]

        class _It:
            def hasNext(self):
                return nxt[0] is not None

            def next(self):
                cur = nxt[0]
                nxt[0] = next(it, None)
                return cur

        return _It()


class _Metric:
    def __init__(self, v):
        self.v = v

    def value(self):
        return self.v


class _Map:
    def __init__(self, d):
        self.d = d

    def keySet(self):
        return _Seq(self.d)

    def apply(self, k):
        return _Metric(self.d[k])


class _Node:
    """Mimics the py4j view of a SparkPlan node."""

    def __init__(self, name, children=(), metrics=None, inner=None):
        self.name, self.kids, self.m, self.inner = name, children, metrics or {}, inner

    def getClass(self):
        node = self

        class _C:
            def getSimpleName(self):
                return node.name

        return _C()

    def children(self):
        return _Seq(self.kids)

    def metrics(self):
        return _Map(self.m)

    def executedPlan(self):
        return self.inner

    def plan(self):
        return self.inner


def test_plan_walker() -> None:
    scan = _Node("FileSourceScanExec", metrics={"scanTime": 250, "numFiles": 3})
    local = _Node("LocalTableScanExec")
    bcast = _Node("BroadcastQueryStageExec",
                  inner=_Node("BroadcastExchangeExec", [local]))
    join = _Node("BroadcastHashJoinExec", [scan, bcast])
    shuffle = _Node("ShuffleQueryStageExec",
                    inner=_Node("ShuffleExchangeExec", [join]))
    py = _Node("FlatMapGroupsInPandasExec", [_Node("SortExec", [shuffle])])
    root = _Node("AdaptiveSparkPlanExec",
                 inner=_Node("ResultQueryStageExec", inner=py))
    tree = plans.to_tree(root)
    assert tree[0] == "FlatMapGroupsInPandasExec", tree[0]
    c = plans.counts(tree)
    assert c == {"exchanges": 2, "python_nodes": 1, "scans": 1, "scan_s": 0.25}, c


def test_percentiles() -> None:
    assert measure.min_samples_for(99) == 1000
    assert measure.min_samples_for(90) == 100
    assert not measure.tail_supported(999, 99)
    assert measure.tail_supported(1000, 99)
    xs = list(range(1, 1001))
    assert measure.tail(xs, 99) == 990  # ten samples lie beyond it
    assert sum(1 for x in xs if x > measure.tail(xs, 99)) == 10
    try:
        measure.tail(xs[:999], 99)
    except ValueError:
        pass
    else:
        raise AssertionError("p99 of 999 samples must be refused")
    assert measure.median([3.0, 1.0, 2.0]) == 2.0


def test_spans() -> None:
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    parent = ["serve.search", 0.0, 10.0, None, 1]
    kids = [["a", 1.0, 4.0, 0, 1], ["b", 3.0, 6.0, 0, 1], ["c", 8.0, 12.0, 0, 1]]
    assert tracing.self_time(parent, kids) == 10.0 - 5.0 - 2.0
    spans = [
        ["serve.search", 0.0, 0.010, None, 1],
        ["textprep.tokenize", 0.0, 0.001, 0, 1],
        ["serve.decode_cache", 0.002, 0.008, 0, 1],
        ["codec.decode_postings", 0.003, 0.006, 2, 1],  # pool thread
        ["codec.decode_postings", 0.004, 0.007, 2, 1],  # pool thread
        ["wand.taat_topk", 0.008, 0.010, 0, 1],
    ]
    counts = Counter({"serve.cache_hits": 1, "serve.cache_misses": 3,
                      "wand.taat_calls": 1, "wand.postings_scored": 40,
                      "wand.results": 10})
    m = tracing.serve_layers(spans, counts)
    assert abs(m["decode_ms"] - 4.0) < 1e-9, m  # union of the two decodes
    assert abs(m["self_ms"] - (10 - 1 - 6 - 2 + 6 - 4) ) < 1e-9, m
    assert m["decode_cache_hit_ratio"] == 0.25
    assert m["postings_per_result"] == 4.0


def test_read_chars() -> None:
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "blob")
        with open(path, "wb") as f:
            f.write(b"x" * 100_000)
        c = measure.read_chars()
        probe = measure.read_chars() - c
        c = measure.read_chars()
        with open(path, "rb", buffering=0) as f:
            assert len(f.read()) == 100_000
        n = measure.read_chars() - c - probe
    assert 100_000 <= n <= 100_000 + 64, n


def test_benchmark_json() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"] + spec["per_layer"]:
        names.append(m["name"])
        assert measure.valid_unit(m["unit"]), m
    assert len(names) == len(set(names)), "a name is used twice"
    bad = [n for n in names if not measure.valid_name(n)]
    assert not bad, bad
    assert not measure.valid_name("_leading") and not measure.valid_name("a" * 65)
    assert not measure.valid_unit("bytes per sec")


def main() -> int:
    tests = [
        test_eventlog, test_plan_walker, test_percentiles, test_spans, test_read_chars,
        test_benchmark_json,
    ]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

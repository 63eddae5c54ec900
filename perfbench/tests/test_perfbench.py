"""Tests of the benchmark's own code: seeded generators, span self-time
arithmetic, process-tree accounting and the result line. None of them
starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_graph_is_deterministic_per_seed():
    a = gen.power_law_graph(7)
    b = gen.power_law_graph(7)
    c = gen.power_law_graph(8)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    assert a[2] == b[2]
    assert not np.array_equal(a[0], c[0])


def test_graph_properties_describe_the_edges():
    src, dst, props = gen.power_law_graph(3)
    n = gen.GRAPH_USERS
    assert len(src) == len(dst) == props["edges"] == gen.GRAPH_EDGES
    assert src.min() >= 0 and max(src.max(), dst.max()) < props["users"] == n
    ins = np.bincount(dst, minlength=n)
    assert props["max_in_degree"] == ins.max()
    assert props["wedges"] == int((ins * np.bincount(src, minlength=n)).sum())
    # planted loops are the only ones: drawn self-follows are moved away
    assert (src == dst).sum() == props["self_loops"] > 0
    pairs = len(set(zip(src.tolist(), dst.tolist())))
    assert pairs <= props["edges"] - props["duplicate_edges"]


def test_graph_work_barely_moves_between_seeds():
    wedges = [gen.power_law_graph(s)[2]["wedges"] for s in range(5)]
    assert max(wedges) / min(wedges) < 1.2


def test_corpus_is_deterministic_per_seed():
    a = gen.corpus(5)
    assert a == gen.corpus(5)
    assert a[0] != gen.corpus(6)[0]


def test_corpus_shape_and_properties():
    docs, evals, embs, props = gen.corpus(1)
    n = gen.CORPUS_DOCS
    assert [d[0] for d in docs] == list(range(n))
    assert [e[0] for e in embs] == list(range(n))
    assert {e[0] for e in evals}.isdisjoint(range(n))
    assert all(len(e[1]) == gen.EMBED_DIMS for e in embs)
    assert all(d[4] == len(d[1]) for d in docs)
    assert props["docs"] == n and props["eval_docs"] == gen.CORPUS_EVAL
    assert props["input_bytes"] == sum(len(d[1].encode()) for d in docs)
    texts = [d[1] for d in docs]
    assert len(texts) - len(set(texts)) >= int(n * gen.EXACT_DUP_SHARE)
    assert props["eval_overlap_docs"] == int(n * gen.CONTAMINATED_SHARE) > 0


def _span(i, parent, start, end):
    return spans.Span(i, f"s{i}", parent, start, end)


def test_self_time_subtracts_children():
    ss = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 9.0)]
    assert spans.self_times(ss) == {0: 4.0, 1: 2.0, 2: 4.0}


def test_self_time_merges_overlap_and_clips_children():
    ss = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),  # overlaps span 1: covered is 2..8
        _span(3, 0, 9.0, 12.0),  # runs past its parent: clipped to 9..10
        _span(4, 1, 2.0, 3.0),  # a grandchild counts against its parent only
    ]
    got = spans.self_times(ss)
    assert got[0] == pytest.approx(3.0)
    assert got[1] == pytest.approx(3.0)
    assert got[4] == pytest.approx(1.0)


def test_tracer_without_spark_records_nested_spans():
    t = spans.Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert not t.tagging


def test_stage_counters_skip_reused_stages():
    c = dict.fromkeys(spans.STAGE_COUNTERS, 0.0)
    stage = {
        "status": "COMPLETE", "numCompleteTasks": 4, "numFailedTasks": 1,
        "executorCpuTime": 2e9, "executorRunTime": 3000, "jvmGcTime": 100,
        "shuffleFetchWaitTime": 0, "shuffleWriteBytes": 2e6,
        "diskBytesSpilled": 0, "inputRecords": 10, "shuffleReadRecords": 5,
        "executorDeserializeTime": 40, "resultSerializationTime": 10,
        "submissionTime": "2026-01-01T00:00:00.000GMT",
        "firstTaskLaunchedTime": "2026-01-01T00:00:00.250GMT",
    }
    spans._add_stage(c, stage)
    spans._add_stage(c, {**stage, "status": "SKIPPED"})
    assert c["stages"] == 1 and c["tasks"] == 5 and c["failed_tasks"] == 1
    assert c["cpu_s"] == 2.0 and c["records"] == 15
    assert c["sched_wait_s"] == pytest.approx(0.3)


def test_process_tree_accounting():
    before = procstat.cpu_seconds(os.getpid())
    x = 0
    for i in range(2_000_000):
        x += i
    assert procstat.cpu_seconds(os.getpid()) > before
    steal, total = procstat.host_jiffies()
    assert 0 <= steal < total
    with procstat.PeakRss(os.getpid(), interval_s=0.01) as rss:
        pass
    assert rss.peak_mb > 1


def _benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(
        ["graph-follow", "corpus-capstone", "corpus-ingest"]
    )


@pytest.mark.parametrize("units", [run.END_TO_END, run.per_layer_units()])
def test_result_line_prints_every_metric_with_its_unit(units):
    values = {k: 1.5 for k in units}
    line = json.loads(run.result_line(True, 7, 0, values, units))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] == 7 and line["failed"] == 0
    assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in units.items()}


def test_missing_package_exits_without_result(tmp_path):
    """Run from a directory holding only the benchmark, it fails fast."""
    import shutil
    import subprocess

    shutil.copytree(BENCH_DIR, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "graph-follow",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "{" not in proc.stdout

"""Unit tests for the benchmark's tracing arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from harness import file_state, written_since  # noqa: E402
from run import END_TO_END, per_layer_units  # noqa: E402
from spans import (Span, Tracer, cached_peak_mb,  # noqa: E402
                   job_group_metrics, layer_metrics, self_time)
from workloads import result_digest  # noqa: E402


@pytest.fixture(scope="module")
def groups():
    with open(HERE / "fixtures" / "eventlog.jsonl") as f:
        return job_group_metrics(f)


def test_event_log_totals_per_job_group(groups):
    assert set(groups) == {"0|sources", "0|quality", "0|sinks",
                           "1|operators.windows.plan", "1|operators.windows"}
    q = groups["0|quality"]
    assert q["jobs"] == 1 and q["tasks"] == 3
    assert q["task_s"] == pytest.approx(0.55)
    assert q["gc_s"] == pytest.approx(0.04)
    assert q["input_records"] == 1500
    assert q["shuffle_write_mb"] == pytest.approx(3.0)
    assert q["shuffle_read_mb"] == pytest.approx(3.0)
    assert q["spill_mb"] == pytest.approx(0.5)
    s = groups["0|sources"]
    assert (s["tasks"], s["input_records"]) == (1, 1000)
    assert s["task_s"] == pytest.approx(0.12)


def test_reused_stage_stays_with_the_job_that_ran_it(groups):
    # job 2 lists stage 1 again (shuffle reuse); its tasks belong to quality
    sinks = groups["0|sinks"]
    assert sinks["jobs"] == 1 and sinks["tasks"] == 1
    assert sinks["task_s"] == pytest.approx(0.4)
    assert sinks["shuffle_write_mb"] == 0


def test_jobs_without_a_group_are_ignored(groups):
    total = sum(g["task_s"] for g in groups.values())
    assert total == pytest.approx(0.12 + 0.55 + 0.4 + 0.1 + 0.7)


def test_layers_add_up_over_dotted_prefixes(groups):
    layers = layer_metrics(groups)
    assert layers["operators"][1]["task_s"] == pytest.approx(0.8)
    assert layers["operators"][1]["jobs"] == 2
    assert layers["operators.windows"][1]["input_records"] == 110
    assert layers["operators.windows.plan"][1]["task_s"] == pytest.approx(0.1)
    assert layers["sources"][0]["input_records"] == 1000
    assert 1 not in layers["sources"]


def _job(group):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return json.dumps({"Event": "SparkListenerJobStart", "Properties": props})


def _block(block, mem):
    return json.dumps({"Event": "SparkListenerBlockUpdated",
                       "Block Updated Info": {"Block ID": block,
                                              "Memory Size": mem}})


def _unpersist(rdd):
    return json.dumps({"Event": "SparkListenerUnpersistRDD", "RDD ID": rdd})


def test_cached_peak_follows_rdd_blocks_per_operation():
    lines = [
        _job("0|sources"), _block("broadcast_0_piece0", 9_000_000),
        _job("0|quality"), _block("rdd_4_0", 2_000_000),
        _block("rdd_4_1", 3_000_000),
        _job("0|sinks"), _block("rdd_4_0", 0), _block("rdd_4_1", 0),
        # the benchmark's own probe caches too; that is not the operation's
        _job("0|probe"), _block("rdd_9_0", 7_000_000),
        _block("rdd_9_1", 7_000_000), _unpersist(9),
        _job(None), _block("rdd_5_0", 1_000_000),
        # a block held from before the operation counts while it runs
        _job("1|pipeline"), _block("rdd_6_0", 500_000),
    ]
    assert cached_peak_mb(lines) == {0: pytest.approx(5.0),
                                     1: pytest.approx(1.5)}


def _spans(*items):
    return [Span(name, 0, a, b, parent) for name, a, b, parent in items]


def test_self_time_without_children():
    assert self_time(_spans(("op", 0.0, 2.0, None)), 0) == pytest.approx(2.0)


def test_self_time_subtracts_sequential_children():
    spans = _spans(("op", 0.0, 10.0, None), ("sources", 1.0, 3.0, 0),
                   ("quality", 4.0, 5.0, 0), ("sinks", 6.0, 9.5, 0))
    assert self_time(spans, 0) == pytest.approx(10.0 - 2.0 - 1.0 - 3.5)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    spans = _spans(("op", 0.0, 10.0, None), ("a", 1.0, 4.0, 0),
                   ("b", 3.0, 5.0, 0), ("c", 8.0, 12.0, 0))
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 2.0)


def test_self_time_ignores_grandchildren():
    spans = _spans(("op", 0.0, 10.0, None), ("sinks", 2.0, 6.0, 0),
                   ("merge", 3.0, 5.0, 1))
    assert self_time(spans, 0) == pytest.approx(6.0)
    assert self_time(spans, 1) == pytest.approx(2.0)


class FakeContext:
    def __init__(self):
        self.calls = []

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_tracer_sets_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    tr.next_op()
    with tr.span("op", group="pipeline"):
        with tr.span("sources", group="sources"):
            pass
        with tr.span("domain.plan"):
            pass
    groups = [v for _, v in sc.calls]
    assert groups == ["0|pipeline", "0|sources", "0|pipeline", None]
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert set(tr.by_op("sources")) == {0}
    assert tr.self_times("op")[0] >= 0


def test_disabled_tracer_records_nothing():
    sc = FakeContext()
    tr = Tracer(sc, enabled=False)
    with tr.span("op", group="pipeline") as s:
        assert s is None
    assert tr.spans == [] and sc.calls == []


def test_result_digest_ignores_row_and_column_order():
    a = result_digest(["x", "y"], [(1, "a"), (2, None), (3.5, "c")])
    b = result_digest(["y", "x"], [("c", 3.5), ("a", 1), (None, 2)])
    assert a == b and a[0] == 3
    assert result_digest(["x", "y"], [(1, "a")]) != a


def test_written_bytes_count_only_new_and_rewritten_files(tmp_path):
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "kept.parquet").write_bytes(b"k" * 10)
    (tmp_path / "t" / "old.parquet").write_bytes(b"o" * 20)
    before = file_state(tmp_path)
    # a staged rewrite: a new file renamed over the old one
    (tmp_path / "stage.parquet").write_bytes(b"n" * 30)
    (tmp_path / "stage.parquet").replace(tmp_path / "t" / "old.parquet")
    (tmp_path / "t" / "new.parquet").write_bytes(b"x" * 5)
    (tmp_path / "t" / "_SUCCESS").write_bytes(b"")
    assert written_since(before, tmp_path) == (35, 2)
    assert written_since({}, tmp_path) == (45, 3)


def test_benchmark_json_lists_every_metric_the_run_prints():
    spec = json.loads((HERE.parents[1] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == {
        "txn_batch", "analytics_mix"}

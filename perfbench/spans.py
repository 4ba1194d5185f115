"""Layer spans, Spark job groups, and the event-log parser behind them.

A traced run wraps each call the benchmark makes into an engine layer in a
``Span`` (kept in memory) and, when the layer can launch Spark jobs, in a
Spark job group named ``"<op>|<layer>"``. Spark's event log records the job
group of every job, so after the session stops ``job_group_metrics`` folds
the log's task-end events into task seconds, GC seconds, task count, input
records, shuffle and spill volume per job group, and ``cached_peak_mb``
follows the log's block updates to the memory that persisted frames hold
while each operation runs.

Nothing here imports pyspark: the tracer only needs an object with
``setLocalProperty`` (a ``SparkContext``), so the arithmetic is testable
without a JVM.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1_000_000.0

JOB_METRICS = ("task_s", "gc_s", "tasks", "input_records",
               "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = float("nan")
    parent: int | None = None  # index into Tracer.spans

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], idx: int) -> float:
    """Duration of ``spans[idx]`` minus the part of it its children cover.

    Children are clipped to the parent's interval and overlapping children
    are counted once, so the result is never negative.
    """
    parent = spans[idx]
    kids = sorted((max(s.start, parent.start), min(s.end, parent.end))
                  for s in spans if s.parent == idx)
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return parent.duration - covered


class Tracer:
    """Collects spans; sets a Spark job group per layer when enabled.

    A disabled tracer records nothing and never touches Spark, so the
    untraced run pays only for a context-manager call per layer.
    """

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[int] = []
        self._groups: list[str | None] = []

    def next_op(self) -> int:
        self.op += 1
        return self.op

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, group: str | None = None) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, time.perf_counter(), parent=parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if group is not None:
            self._groups.append(f"{self.op}|{group}")
            self._set_group(self._groups[-1])
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                self._set_group(self._groups[-1] if self._groups else None)

    def by_op(self, name: str) -> dict[int, float]:
        """Summed duration of the spans called ``name``, per operation."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name:
                out[s.op] += s.duration
        return dict(out)

    def self_times(self, name: str) -> dict[int, float]:
        """Summed self time of the spans called ``name``, per operation."""
        out: dict[int, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.name == name:
                out[s.op] += self_time(self.spans, i)
        return dict(out)


def _zero() -> dict[str, float]:
    return {**{m: 0.0 for m in JOB_METRICS}, "jobs": 0.0}


def job_group_metrics(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Fold a Spark event log into per-job-group totals.

    A stage belongs to the job group of the first job that lists it: a
    later job that lists the same stage reuses its shuffle output and runs
    none of its tasks. Jobs without a group are ignored.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(_zero)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            m = out[group]
            m["tasks"] += 1
            m["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["input_records"] += (tm.get("Input Metrics") or {}).get(
                "Records Read", 0)
            m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            m["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
    return dict(out)


def _op_of(group: str | None) -> int | None:
    """The operation of a ``"<op>|<layer>"`` job group; None for jobs with
    no group and for the benchmark's own probe jobs."""
    if group is None:
        return None
    op_text, _, layer = group.partition("|")
    if layer in ("probe", "domain") or not op_text.isdigit():
        return None
    return int(op_text)


def cached_peak_mb(lines: Iterable[str]) -> dict[int, float]:
    """Peak MB of cached RDD blocks held in memory while an operation's jobs
    run, per operation.

    Needs ``spark.eventLog.logBlockUpdates.enabled``. A block counts from
    the update that stores it until an update drops it (memory size 0) or
    its RDD is unpersisted; blocks a frame persisted before the operation
    still count while it runs.
    """
    blocks: dict[str, int] = {}
    held, op = 0, None
    out: dict[int, float] = defaultdict(float)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            op = _op_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            block = info["Block ID"]
            if not block.startswith("rdd_"):
                continue
            held += info["Memory Size"] - blocks.get(block, 0)
            blocks[block] = info["Memory Size"]
        elif kind == "SparkListenerUnpersistRDD":
            prefix = f"rdd_{ev['RDD ID']}_"
            for block in [b for b in blocks if b.startswith(prefix)]:
                held -= blocks.pop(block)
        else:
            continue
        if op is not None:
            out[op] = max(out[op], held / MB)
    return dict(out)


def layer_metrics(groups: dict[str, dict[str, float]]
                  ) -> dict[str, dict[int, dict[str, float]]]:
    """Regroup ``"<op>|<layer>"`` totals as layer → op → metrics.

    A group adds to every dotted prefix of its layer name, so the jobs of
    ``operators.windows.plan`` count towards ``operators.windows`` and
    ``operators`` as well.
    """
    out: dict[str, dict[int, dict[str, float]]] = defaultdict(
        lambda: defaultdict(_zero))
    for key, metrics in groups.items():
        op_text, _, layer = key.partition("|")
        try:
            op = int(op_text)
        except ValueError:
            continue
        parts = layer.split(".")
        for n in range(1, len(parts) + 1):
            dst = out[".".join(parts[:n])][op]
            for k, v in metrics.items():
                dst[k] += v
    return {k: dict(v) for k, v in out.items()}

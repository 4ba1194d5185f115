#!/usr/bin/env python3
"""Benchmark of the ETL engine: one workload, one closed-loop client.

    python3 perfbench/run.py --workload txn_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload dim_upsert --steady 5

A run sets up several times (session, seeded inputs, warm-up and oracle
checks) and reports the median set-up time, then runs operations back to
back for ``--seconds``, checking every result. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` repeats the timed phase in a second
session with Spark's event log and layer spans on, and prints the per-layer
metrics instead. The last line of standard output is one JSON object.
``--steady N`` runs the workload N times with seeds 1..N and prints the
median and interquartile spread of every end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from harness import (ROOT, Jvm, code_version, file_state, median,
                     pin_environment, quartiles, remove_tree, shutdown_jvm,
                     start_session, written_since)
from spans import (JOB_METRICS, MB, Tracer, cached_peak_mb, job_group_metrics,
                   layer_metrics)
from workloads import ANALYTICS_QUERIES, WORKLOADS, Check

SETUP_ROUNDS = 2

END_TO_END = {  # name → unit; the metrics of the --trace 0 result
    "setup_s": "s", "cpu_s_per_op": "s", "write_amp": "ratio",
    "peak_rss_mb": "MiB",
}
# Printed on "#" lines only: on a shared VM, wall time per operation moves
# with the hypervisor's steal by more than the largest regression bound.
WALL_CLOCK = {"op_s_p50": "s", "rows_per_s": "rows/s"}
LAYERS = ("sources", "domain", "quality", "sinks", "operators")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {
        "session.get_spark_s": "s", "seed.gen_s": "s",
        "sources.read_s": "s", "sources.jobs": "count",
        "sources.records_read_per_input_row": "ratio",
        "domain.transform_s": "s", "quality.check_s": "s",
        "quality.jobs": "count", "sinks.write_s": "s",
        "sinks.bytes_written_mb": "MB", "sinks.files_written": "count",
        "pipeline.driver_s": "s", "pipeline.cached_mb": "MB",
    }
    job_units = {"task_s": "s", "gc_s": "s", "tasks": "count",
                 "input_records": "count", "shuffle_read_mb": "MB",
                 "shuffle_write_mb": "MB", "spill_mb": "MB"}
    for layer in LAYERS:
        for m in JOB_METRICS:
            units[f"{layer}.{m}"] = job_units[m]
    for module, _, _ in ANALYTICS_QUERIES:
        for m in ("plan_s", "query_s", "task_s"):
            units[f"operators.{module}.{m}"] = "s"
    units["tracing_overhead_frac"] = "frac"
    return units


@dataclass
class Record:
    op: int
    wall: float
    cpu: float
    written: int              # bytes of output files the op created or rewrote
    files: int                # data files among them
    rows: int
    input_bytes: int
    extra_input_records: int
    check: Check


def run_ops(spark, wl, jvm: Jvm, tracer: Tracer, first: int, *, count: int = 0,
            seconds: float = 0.0) -> tuple[list[Record], int]:
    """Run ``count`` operations, or whole cycles of ``wl.cycle`` operations
    until ``seconds`` pass.

    Returns the records and the index of the next operation. An operation
    that raises, or whose check fails, counts as failed.
    """
    records: list[Record] = []
    i, start = first, time.perf_counter()
    with wl.phase(tracer):
        while True:
            for _ in range(count or wl.cycle):
                op = tracer.next_op()
                state = None
                before = file_state(wl.output)
                c0, t0 = jvm.cpu_s(), time.perf_counter()
                try:
                    with tracer.span("op", group="pipeline"):
                        state = wl.op(spark, i)
                    wall = time.perf_counter() - t0
                    cpu = jvm.cpu_s() - c0
                    written, files = written_since(before, wl.output)
                    check = wl.check(spark, i, state)
                    if tracer.enabled:
                        wl.probe(spark, i, state)
                    records.append(Record(op, wall, cpu, written, files,
                                          state.rows, state.input_bytes,
                                          state.extra_input_records, check))
                except Exception:  # an op failure is a result, not a crash
                    traceback.print_exc(file=sys.stderr)
                    records.append(Record(op, float("nan"), 0.0, 0, 0, 0, 0, 0,
                                          Check(False, "raised")))
                finally:
                    wl.cleanup(i, state)
                i += 1
            if count or time.perf_counter() - start >= seconds:
                return records, i


def end_to_end(records: list[Record], setup: list[float],
               peak_rss_mb: float) -> dict[str, float]:
    timed = [r for r in records if r.wall == r.wall]  # drop raised ops
    if not timed:
        raise RuntimeError("no operation completed")
    return {
        "setup_s": median(setup),
        "op_s_p50": median([r.wall for r in timed]),
        "rows_per_s": median([r.rows / r.wall for r in timed]),
        "write_amp": (sum(r.written for r in timed)
                      / sum(r.input_bytes for r in timed)),
        "cpu_s_per_op": sum(r.cpu for r in timed) / len(timed),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(records: list[Record], tracer: Tracer, eventlog: Path,
              setup: dict[str, list[float]], untraced_p50: float
              ) -> dict[str, float]:
    lines: list[str] = []
    for f in sorted(eventlog.iterdir()):
        with open(f) as fh:
            lines.extend(fh)
    layers = layer_metrics(job_group_metrics(lines))
    ops = [r.op for r in records if r.wall == r.wall]
    if not ops:
        raise RuntimeError("no traced operation completed")

    def med(values: dict[int, float], only=None) -> float:
        keys = ops if only is None else [o for o in ops if o in only]
        return median([values.get(o, 0.0) for o in keys]) if keys else 0.0

    def job(layer: str, metric: str, only=None) -> float:
        per_op = {o: m[metric] for o, m in layers.get(layer, {}).items()}
        return med(per_op, only)

    by_op = {r.op: r for r in records}
    read = sum(layers.get(layer, {}).get(o, {}).get("input_records", 0.0)
               for layer in ("pipeline", "sources", "quality", "sinks")
               for o in ops)
    read -= sum(by_op[o].extra_input_records for o in ops)
    out = {
        "session.get_spark_s": median(setup["session"]),
        "seed.gen_s": median(setup["gen"]),
        "sources.read_s": med(tracer.by_op("sources")),
        "sources.jobs": job("sources", "jobs"),
        "sources.records_read_per_input_row":
            max(read, 0.0) / sum(by_op[o].rows for o in ops),
        "domain.transform_s": med(tracer.by_op("domain")),
        "quality.check_s": med(tracer.by_op("quality")),
        "quality.jobs": job("quality", "jobs"),
        "sinks.write_s": med(tracer.by_op("sinks")),
        "sinks.bytes_written_mb": median([by_op[o].written / MB for o in ops]),
        "sinks.files_written": median([by_op[o].files for o in ops]),
        "pipeline.driver_s": med(tracer.self_times("op")),
        "pipeline.cached_mb": med(cached_peak_mb(lines)),
    }
    for layer in LAYERS:
        for m in JOB_METRICS:
            out[f"{layer}.{m}"] = job(layer, m)
    for module, _, _ in ANALYTICS_QUERIES:
        name = f"operators.{module}"
        plan, query = tracer.by_op(f"{name}.plan"), tracer.by_op(name)
        out[f"{name}.plan_s"] = med(plan, plan)
        out[f"{name}.query_s"] = med(query, query)
        out[f"{name}.task_s"] = job(name, "task_s", query)
    traced_p50 = median([by_op[o].wall for o in ops])
    out["tracing_overhead_frac"] = (traced_p50 - untraced_p50) / untraced_p50
    return out


def warm_up(spark, wl, jvm: Jvm, tracer: Tracer, first: int, count: int) -> int:
    """Run ``count`` untimed operations, as ``run_ops`` would; a failed
    check stops the run."""
    if count <= 0:
        return first
    warm, next_op = run_ops(spark, wl, jvm, tracer, first, count=count)
    bad = [rec.check.detail for rec in warm if not rec.check.ok]
    if bad:
        raise RuntimeError(f"set-up check failed: {bad[0]}")
    return next_op


def run(args, work: Path) -> tuple[dict, list[str]]:
    wl = WORKLOADS[args.workload](work)
    setup: dict[str, list[float]] = {"total": [], "session": [], "gen": []}
    spark, tracer = None, Tracer(enabled=False)
    next_op = 0
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work)
        t1 = time.perf_counter()
        remove_tree(work / f"round{r - 1}")
        wl.generate(spark, args.seed, work / f"round{r}")
        t2 = time.perf_counter()
        wl.prepare(spark)
        t3 = time.perf_counter()
        jvm = Jvm(spark.sparkContext._gateway.proc.pid)
        next_op = warm_up(spark, wl, jvm, tracer, 0, 1)
        setup["total"].append(time.perf_counter() - t0)
        print(f"# set-up round {r}: session {t1-t0:.2f} gen {t2-t1:.2f} prep {t3-t2:.2f} total {setup['total'][-1]:.2f}", file=sys.stderr)
        setup["session"].append(t1 - t0)
        setup["gen"].append(t2 - t1)
    # Not part of a set-up round: a fixed number of untimed operations,
    # because an operation still gets faster over its first runs while the
    # JIT compiles. A count rather than a time, so that a slow host does not
    # start the timed phase earlier on that curve. A full collection first
    # compacts what set-up left on the heap, so that the timed phase's peak
    # RSS depends on what the operations keep, not on how far set-up had
    # grown the heap.
    spark.sparkContext._jvm.java.lang.System.gc()
    next_op = warm_up(spark, wl, jvm, tracer, next_op, wl.warm_ops)

    reset = jvm.reset_peak_rss()
    records, next_op = run_ops(spark, wl, jvm, tracer, next_op,
                               seconds=args.seconds)
    metrics = end_to_end(records, setup["total"], jvm.peak_rss_mb())
    failed = sum(not rec.check.ok for rec in records)
    notes = [f"untraced ops={len(records)} failed={failed} "
             f"failed_frac={failed / len(records):.4f} "
             f"peak_rss_reset={reset}"]
    wall = {k: metrics.pop(k) for k in WALL_CLOCK}
    notes += [f"{k} = {v:.6g} {WALL_CLOCK[k]}" for k, v in wall.items()]
    walls = sorted(rec.wall for rec in records if rec.wall == rec.wall)
    notes.append("op_s in run order: " + " ".join(
        f"{rec.wall:.3f}" for rec in records))
    if len(walls) >= 40:
        notes.append(f"op_s_p75={quartiles(walls)[2]:.4f} s")
    notes += [f"failed op: {rec.check.detail}" for rec in records
              if not rec.check.ok][:5]

    if args.trace:
        spark.stop()
        spark = start_session(work, event_log=True)
        tracer = Tracer(spark.sparkContext)
        wl.prepare(spark)
        next_op = warm_up(spark, wl, jvm, tracer, next_op, wl.cycle)
        first_counted = tracer.op + 1
        traced, next_op = run_ops(spark, wl, jvm, tracer, next_op,
                                  seconds=args.seconds)
        spark.stop()
        counted = [rec for rec in traced if rec.op >= first_counted]
        tfailed = sum(not rec.check.ok for rec in counted)
        notes.append(f"traced ops={len(counted)} failed={tfailed}")
        layer = per_layer(counted, tracer, work / "eventlog", setup,
                          wall["op_s_p50"])
        records, failed = records + counted, failed + tfailed
        metrics = layer
        units = per_layer_units()
    else:
        units = END_TO_END
        spark.stop()
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    return result, notes


def steady(args) -> int:
    """Run the workload ``--steady`` times with seeds 1..N (plus one traced
    run) and print median and interquartile spread of each end-to-end and
    wall-clock metric."""
    base = [sys.executable, str(Path(__file__).resolve()), "--workload",
            args.workload, "--seconds", str(args.seconds)]
    values: dict[str, list[float]] = {}
    for seed in range(1, args.steady + 1):
        out = subprocess.run(base + ["--seed", str(seed), "--trace", "0"],
                             capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        if not res["correct"]:
            print(f"seed {seed}: incorrect result", file=sys.stderr)
            return 1
        got = {k: v["value"] for k, v in res["metrics"].items()}
        for line in lines:  # the wall-clock metrics' "# name = value unit"
            parts = line.split()
            if len(parts) == 5 and parts[1] in WALL_CLOCK and parts[2] == "=":
                got[parts[1]] = float(parts[3])
        for k, v in got.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed}: " + " ".join(f"{k}={v:.4g}"
                                          for k, v in got.items()), flush=True)
    units = {**END_TO_END, **WALL_CLOCK}
    summary = {}
    for k, vs in values.items():
        q1, q2, q3 = quartiles(vs)
        summary[k] = {"median": q2, "iqr_frac": (q3 - q1) / q2 if q2 else 0.0,
                      "unit": units[k]}
        print(f"{k:14s} median={q2:.5g} {units[k]:7s} "
              f"iqr/median={summary[k]['iqr_frac']:.4f}")
    out = subprocess.run(base + ["--seed", str(args.steady + 1), "--trace",
                                 "1"], capture_output=True, text=True,
                         timeout=600)
    if out.returncode == 0:
        res = json.loads(out.stdout.strip().splitlines()[-1])
        frac = res["metrics"]["tracing_overhead_frac"]["value"]
        summary["tracing_overhead_frac"] = {"median": frac, "unit": "frac"}
        print(f"tracing_overhead_frac={frac:.4f}")
    print(json.dumps({"workload": args.workload, "runs": args.steady,
                      "summary": summary}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0, metavar="N")
    args = p.parse_args(argv)
    if args.steady:
        return steady(args)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    env = pin_environment(work)
    sys.path.insert(0, str(ROOT))
    try:
        result, notes = run(args, work)
    finally:
        try:
            shutdown_jvm()
        finally:
            remove_tree(work)
            try:
                work.parent.rmdir()
            except OSError:
                pass
    config = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds}"
          f" trace={args.trace} code={code_version()} config={json.dumps(config)}")
    for note in notes:
        print(f"# {note}")
    for k, v in result["metrics"].items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

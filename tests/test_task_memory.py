"""Tungsten pages are sized to a batch's tasks, not to the driver heap.

Every sorter and keyed hash aggregate of a task takes a whole page before
its first row, so a task's peak execution memory is at least one page. At
Spark's default (execution pool / cores / 16, rounded up to a power of two)
that is 32-64 MiB per task on a 4-16 GiB driver, whatever the data size; the
session pins 4 MiB pages.
"""

from __future__ import annotations

from pyspark.sql import functions as F

MIB = 1024 * 1024


def _task_peaks(spark, group: str) -> list[int]:
    """peakExecutionMemory of every task of every job in ``group``, from
    the status store once the listener bus has delivered the task ends."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    peaks = []
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(stage)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            tasks = store.taskList(stage, info.currentAttemptId, 1000)
            for i in range(tasks.size()):
                metrics = tasks.apply(i).taskMetrics()
                if metrics.isDefined():
                    peaks.append(metrics.get().peakExecutionMemory())
    return peaks


def test_keyed_aggregate_and_sort_take_small_pages(spark):
    df = spark.range(0, 20_000, numPartitions=4).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    # sorted by k, as ``v`` is the range's own order and its sort is elided
    queries = {"aggregate": df.groupBy("k").agg(F.sum("v")),
               "sort": df.sortWithinPartitions("k")}
    sc = spark.sparkContext
    for name, query in queries.items():
        group = f"task-memory-{name}"
        try:
            sc.setJobGroup(group, "page size probe")
            query.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        peaks = _task_peaks(spark, group)
        assert peaks and max(peaks) > 0, (name, peaks)
        assert max(peaks) <= 8 * MIB, (name, sorted(peaks))

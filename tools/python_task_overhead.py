"""Fixed cost of one Python task: the layer beneath RainStorm's PluginOps.

Usage, from the root of the checkout:

    python tools/python_task_overhead.py

On ``get_spark``'s session it runs an identity job through an
emit-contract PluginOp over 8 partitions of 300 records, once to start the
Python workers and then 10 timed reps. The op passes every record through,
and the median Spark task ``executorRunTime`` of the timed jobs is the
first figure.

After each timed job the same job runs once more with the op in probe
mode: on the last record of each task it counts the ``zipimporter``
finders left in the worker's ``sys.path_importer_cache`` and times one
``importlib.invalidate_caches()`` call. That is the state, and the cost,
that PySpark's own ``invalidate_caches()`` call at the start of the next
task on that worker meets (``setup_spark_files`` runs before any op code,
so it cannot be timed directly). The probe job is kept apart from the
timed job so that its extra call does not count in ``executorRunTime``.

It prints the median task ``executorRunTime``, the median and quartiles of
the in-worker ``invalidate_caches()`` time and the median finder count,
then the same as one JSON line.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys
import time
import zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PARTITIONS = 8
ROWS = 300  # records per partition
REPS = 10
MARK = "__task_probe__"
PROBE = "probe"
# the current task and how many of its records the op has seen; the op
# ships by value, so this dict lives in the worker
_SEEN: dict[str, int] = {}


def probe_op(key: str, value: str, pattern: str | None):
    """Identity emit op. With ``pattern == PROBE`` the last record of each
    task also emits one (MARK, "<invalidate_caches ms>,<zip finders>")
    record."""
    if pattern != PROBE:
        return [(key, value)]
    from pyspark import TaskContext

    tid = TaskContext.get().taskAttemptId()
    if _SEEN.get("task") != tid:
        _SEEN["task"], _SEEN["seen"] = tid, 0
    _SEEN["seen"] += 1
    if _SEEN["seen"] < ROWS:
        return [(key, value)]
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    return [(key, value), (MARK, f"{ms:.3f},{zips}")]


def task_run_ms(spark, stage_ids: list[int]) -> list[float]:
    """executorRunTime of every task of the first attempt of the given
    stages, from Spark's status store (kept with the UI off; reached
    through py4j)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for sid in stage_ids:
        tasks = store.taskList(sid, 0, 10_000)
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            if metrics.isDefined():
                out.append(float(metrics.get().executorRunTime()))
    return out


def run(spark) -> dict:
    from streamprocessing_spark import engine as E

    records = spark.range(0, PARTITIONS * ROWS, 1, PARTITIONS).selectExpr(
        "CAST(id AS STRING) AS key", "CAST(id AS STRING) AS value"
    )
    op = E.PluginOp(probe_op, "emit")
    timed, probed = op.apply(records, None), op.apply(records, PROBE)
    sc = spark.sparkContext
    run_ms: list[float] = []
    inval_ms: list[float] = []
    zips: list[int] = []
    for rep in range(REPS + 1):
        group = f"python-task-overhead-{rep}"
        sc.setJobGroup(group, group)
        got = timed.collect()
        tracker = sc.statusTracker()
        stage_ids = [s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds]
        marks = [r.value for r in probed.collect() if r.key == MARK]
        if rep == 0:  # worker start-up and first imports
            continue
        if len(got) != PARTITIONS * ROWS:
            raise RuntimeError(f"identity job returned {len(got)} records, expected {PARTITIONS * ROWS}")
        if len(marks) != PARTITIONS:
            raise RuntimeError(f"probe job returned {len(marks)} marks, expected {PARTITIONS}")
        for m in marks:
            ms, n = m.split(",")
            inval_ms.append(float(ms))
            zips.append(int(n))
        run_ms.extend(task_run_ms(spark, stage_ids))
    q = statistics.quantiles(inval_ms, n=4)
    return {
        "reps": REPS,
        "rows_per_task": ROWS,
        "tasks": len(run_ms),
        "task_run_ms_median": statistics.median(run_ms),
        "invalidate_caches_ms_median": round(statistics.median(inval_ms), 3),
        "invalidate_caches_ms_q1": round(q[0], 3),
        "invalidate_caches_ms_q3": round(q[2], 3),
        "zip_finders_median": statistics.median(zips),
    }


def main() -> int:
    from streamprocessing_spark.session import get_spark

    spark = get_spark("python-task-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        res = run(spark)
    finally:
        spark.stop()
    print(f"tasks timed: {res['tasks']} ({REPS} reps x {PARTITIONS} partitions x {ROWS} rows)")
    print(f"median task executorRunTime: {res['task_run_ms_median']:.0f} ms")
    print(
        f"in-worker invalidate_caches(): median {res['invalidate_caches_ms_median']:.3f} ms"
        f" [q1 {res['invalidate_caches_ms_q1']:.3f}, q3 {res['invalidate_caches_ms_q3']:.3f}]"
    )
    print(f"zip finders left in the worker's path_importer_cache at task end: median {res['zip_finders_median']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())

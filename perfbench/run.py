"""Streaming benchmark for the RainStorm re-expression.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload app2_stateful --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``app2_stateful``: App-2 (col 6 == "F" filter, keyed count) through two
  per-record ``PluginOp``s in update mode;
- ``app1_stateless``: App-1 (substring filter, CSV projection) through two
  ``NativeOp``s in append mode.

Both read an open-loop stream of CSV files and write the ``keyed_lines``
sink from ``foreachBatch``. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A traced run also
writes its spans and per-layer self-time table to
``.perfbench-run/out/trace-<workload>-<seed>.json``.

Everything the run writes lives under ``.perfbench-run/`` in the checkout;
the scratch part is wiped at the start of every run. The environment the
program sees is pinned here, from outside it: cores = the CPUs this
process may use, Spark scratch and temp dirs under the run's scratch, a
2 GB JVM heap. Self-tests: ``python3 -m pytest perfbench/test_perfbench.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench-run")
SCRATCH = os.path.join(RUN_DIR, "scratch")
OUT = os.path.join(RUN_DIR, "out")


def _pin_env() -> None:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(SCRATCH, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf spark.sql.warehouse.dir={os.path.join(SCRATCH, 'warehouse')} pyspark-shell"
            ),
        }
    )


def _program_id() -> dict:
    """Commit (when the checkout is a git work tree) and a hash of the
    program's sources, so every result names the code it measured."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "streamprocessing_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    import pyspark

    return {
        "commit": commit,
        "source_sha256": h.hexdigest()[:16],
        "cores": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
    }


def _end_to_end(res: dict) -> dict:
    from perfbench.analysis import median, tail_percentile

    lat = res["latency_ms"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "drain_rps": (res["drain_rps"], "records/s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_p95_ms": (tail_percentile(lat, 0.95), "ms"),
        "recovery_s": (res["recovery_s"], "s"),
    }


PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "mem.peak_rss_mb": "MB",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.input_rows": "count",
    "source.backlog_rows_end": "count",
    "gen.lag_p95_ms": "ms",
    "engine.op1.records_in": "count",
    "engine.op1.records_out": "count",
    "engine.op2.records_in": "count",
    "engine.op2.records_out": "count",
    "engine.op1.busy_ms": "ms",
    "engine.op2.busy_ms": "ms",
    "engine.python_share": "fraction",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.overhead_frac": "fraction",
    "stream.phase_coverage": "fraction",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "recovery.first_batch_ms": "ms",
    "sink.rows_written": "count",
    "sink.parts_published": "count",
    "sink.bytes_written": "bytes",
    "sink.stage_run_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_frac": "fraction",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_ms": "ms",
}


def _write_trace(workload: str, seed: int, env: dict, res: dict, e2e: dict) -> str:
    """Span file plus the per-layer self-time table derived from it. The
    tracing overhead is this traced run's end-to-end numbers minus those of
    the latest untraced run of the same workload, seed and program."""
    from perfbench.analysis import self_time_table

    spans = res["spans"]
    base_path = os.path.join(OUT, f"result-{workload}-{seed}.json")
    overhead = None
    if os.path.exists(base_path):
        with open(base_path, encoding="utf-8") as fh:
            base = json.load(fh)
        if base.get("env", {}).get("source_sha256") == env["source_sha256"]:
            overhead = {k: e2e[k][0] - v for k, v in base["metrics"].items() if k in e2e}
    doc = {
        "workload": workload,
        "seed": seed,
        "env": env,
        "traced_end_to_end": {k: v[0] for k, v in e2e.items()},
        "tracing_overhead": overhead,
        "self_time": self_time_table(spans.spans),
        "layers": res["layers"],
        "spans": spans.to_json(),
    }
    path = os.path.join(OUT, f"trace-{workload}-{seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    return path


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "streamprocessing_spark")):
        print("perfbench: no streamprocessing_spark/ here; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.analysis import percentile
    from perfbench.workload import FILE_PERIOD_S, SPECS, run

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(SPECS)}",
              file=sys.stderr)
        return 2
    spec = SPECS[args.workload]

    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    _pin_env()
    env = _program_id()
    res = run(spec, args.seed, args.seconds, os.path.join(SCRATCH, "run"), bool(args.trace))
    e2e = _end_to_end(res)
    correct = res["failed"] == 0 and res["attempted"] > 0
    lag_p95 = percentile(res["gen_lag_ms"], 0.95)
    if lag_p95 > FILE_PERIOD_S * 1000.0:
        print(f"perfbench: generator fell behind (lag p95 {lag_p95:.1f} ms)", file=sys.stderr)
        correct = False
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "env": env, "latency_samples": len(res["latency_ms"])}
    if args.trace:
        info["trace_file"] = _write_trace(args.workload, args.seed, env, res, e2e)
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(os.path.join(OUT, f"result-{args.workload}-{args.seed}.json"), "w",
                  encoding="utf-8") as fh:
            json.dump({"env": env, "metrics": {k: v for k, (v, _) in e2e.items()}}, fh)
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    if not correct:
        print(f"perfbench: INCORRECT: {res['failed']} of {res['attempted']} records wrong",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

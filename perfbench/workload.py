"""Drive one streaming workload through the program's public surface.

The program is used only as a user would: ``session.get_spark``,
``engine.RainStormJob`` with ``PluginOp``/``NativeOp``, Spark's file
stream source, and the ``keyed_lines`` sink from ``sources.linesink``
written from ``foreachBatch``. Every probe sits outside the program:
bench-supplied op wrappers (accumulators, ``observe``), each query's
``StreamingQueryProgress``, Spark's status store, and /proc for memory.

A run has a set-up (session, sink registration, a warm-up batch) and
three timed phases over one open-loop file stream (see ``_phases``):

- ``drain``: pre-generated backlog files land at once; records/s until
  they are published;
- ``steady``: files land on a fixed schedule at the workload's offered
  rate; latency is each record's creation time to the publish of the
  batch that read it;
- ``recovery``: the query is stopped while a batch is in flight and
  restarted from its checkpoint.

At the end the sink is read back and compared with plain-Python reference
results over every record the generator dropped.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass

from perfbench import analysis as A
from perfbench.gen import APP1_PATTERN, APP2_PATTERN, Generator, app1_reference, app2_reference


@dataclass(frozen=True)
class StreamSpec:
    name: str
    app: str  # "app1" | "app2"
    rate: int  # offered records/s in the steady phase
    backlog_records: int  # drained in the drain phase
    restarts: int  # recovery_s is the median over these stop/restart cycles


# One file lands every FILE_PERIOD_S. Latency samples are records, each
# stamped with its creation time, so the cadence only has to keep batches
# regular: at 5 files/s a batch reads fewer than 32 files and never flips
# onto Spark's listing-with-a-job path.
FILE_PERIOD_S = 0.2
LEAD_IN_S = 1.0  # stream time before the measured window opens
WARMUP_RECORDS = 4000

# Each offered rate is a quarter of the pipeline's median drain rate on the
# seed code (see CHANGES.md for the measurement). App-1's restart re-runs in
# about 1 s and varies by a quarter between runs with two cycles, so it gets
# more cycles; App-2's take about 4.5 s each and vary less.
SPECS = {
    "app2_stateful": StreamSpec("app2_stateful", "app2", rate=10_000, backlog_records=200_000, restarts=2),
    "app1_stateless": StreamSpec("app1_stateless", "app1", rate=70_000, backlog_records=600_000, restarts=5),
}


# --------------------------------------------------------------------------
# Jobs and tracing wrappers


class TimedFn:
    """Per-record plugin callable that counts records in, records out and
    busy nanoseconds into accumulators (traced runs only)."""

    def __init__(self, fn, acc_in, acc_out, acc_ns) -> None:
        self.fn, self.acc_in, self.acc_out, self.acc_ns = fn, acc_in, acc_out, acc_ns

    def __call__(self, key, value, pattern):
        t = time.perf_counter_ns()
        r = self.fn(key, value, pattern)
        self.acc_ns.add(time.perf_counter_ns() - t)
        self.acc_in.add(1)
        if r is not None:
            self.acc_out.add(1 if isinstance(r, str) else len(r))
        return r


_CSV_DDL = ", ".join(f"c{i} string" for i in range(20))


def _app1_filter(df, pattern):
    from pyspark.sql import functions as F

    return df.where(F.col("value").contains(pattern))


def _app1_project(df, pattern):
    from pyspark.sql import functions as F

    row = F.from_csv(F.col("value"), _CSV_DDL, {"escape": '"'})
    return df.select(row.alias("r")).select(F.col("r.c2").alias("key"), F.col("r.c3").alias("value"))


class Ops:
    """The workload's two ops, wrapped for counting when traced."""

    def __init__(self, spark, app: str, traced: bool) -> None:
        from streamprocessing_spark import engine as E

        self.app = app
        self.acc: dict[str, object] = {}
        if app == "app2":
            fns = [(E.app2_op1, "emit"), (E.app2_op2, "count")]
            ops = []
            for i, (fn, contract) in enumerate(fns, 1):
                if traced:
                    sc = spark.sparkContext
                    acc = [sc.accumulator(0) for _ in range(3)]
                    self.acc.update({f"op{i}.in": acc[0], f"op{i}.out": acc[1], f"op{i}.ns": acc[2]})
                    fn = TimedFn(fn, *acc)
                ops.append(E.PluginOp(fn, contract))
            self.job = E.RainStormJob(op1=ops[0], op2=ops[1], pattern=APP2_PATTERN)
        else:
            ops = []
            for i, fn in enumerate((_app1_filter, _app1_project), 1):
                ops.append(E.NativeOp(_observed(fn, i) if traced else fn))
            self.job = E.RainStormJob(op1=ops[0], op2=ops[1], pattern=APP1_PATTERN)

    def counters(self, progress: list[dict]) -> dict[str, float]:
        """Records in/out and busy ms per op over the whole run."""
        out = {}
        for i in (1, 2):
            if self.app == "app2":
                out[f"engine.op{i}.records_in"] = self.acc[f"op{i}.in"].value
                out[f"engine.op{i}.records_out"] = self.acc[f"op{i}.out"].value
                out[f"engine.op{i}.busy_ms"] = self.acc[f"op{i}.ns"].value / 1e6
            else:
                obs = [p.get("observedMetrics", {}) for p in progress]
                out[f"engine.op{i}.records_in"] = sum(o.get(f"op{i}_in", {}).get("n", 0) for o in obs)
                out[f"engine.op{i}.records_out"] = sum(o.get(f"op{i}_out", {}).get("n", 0) for o in obs)
                # a NativeOp runs inside the JVM's generated code: no
                # Python busy time exists to measure
                out[f"engine.op{i}.busy_ms"] = 0.0
        return out


def _observed(fn, i):
    def op(df, pattern):
        from pyspark.sql import functions as F

        n = F.count(F.lit(1)).alias("n")
        return fn(df.observe(f"op{i}_in", n), pattern).observe(f"op{i}_out", n)

    return op


# --------------------------------------------------------------------------
# Input files and the open-loop schedule


class Inputs:
    """Pre-generates input files into a staging directory; ``drop`` makes
    one visible to the stream with an atomic rename. The reference result
    is computed at the end from the dropped files themselves."""

    def __init__(self, spec: StreamSpec, seed: int, staging: str, watch: str) -> None:
        self.spec, self.staging, self.watch = spec, staging, watch
        self.gen = Generator(seed)
        self.rows: dict[str, int] = {}
        self.dropped: list[str] = []
        os.makedirs(staging, exist_ok=True)
        os.makedirs(watch, exist_ok=True)

    def make(self, name: str, n: int) -> str:
        with open(os.path.join(self.staging, name), "w", encoding="utf-8") as fh:
            fh.write("\n".join(self.gen.lines(n)))
            fh.write("\n")
        self.rows[name] = n
        return name

    def drop(self, name: str) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.watch, name))
        self.dropped.append(name)

    @property
    def records_dropped(self) -> int:
        return sum(self.rows[n] for n in self.dropped)

    def reference(self) -> Counter:
        ref = app2_reference if self.spec.app == "app2" else app1_reference
        return ref(self._dropped_lines())

    def _dropped_lines(self):
        for name in self.dropped:
            with open(os.path.join(self.watch, name), encoding="utf-8") as fh:
                yield from fh.read().splitlines()


class OpenLoop(threading.Thread):
    """Drops ``files`` on a fixed schedule (file i due at t0 + i*period)
    regardless of how the system keeps up; records each file's due time
    and how late the drop ran. Stops early when ``stop`` is set."""

    def __init__(self, inputs: Inputs, files: list[str], t0: float, period: float) -> None:
        super().__init__(daemon=True)
        self.inputs, self.files, self.t0, self.period = inputs, files, t0, period
        self.due: dict[str, float] = {}
        self.lag_ms: list[float] = []
        self.stop = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, name in enumerate(self.files):
                due = self.t0 + i * self.period
                wait = due - time.time()
                if (wait > 0 and self.stop.wait(wait)) or self.stop.is_set():
                    return
                self.inputs.drop(name)
                self.lag_ms.append((time.time() - due) * 1000.0)
                self.due[name] = due
        except BaseException as e:  # noqa: BLE001 - re-raised by the main thread
            self.error = e

    def finish(self) -> None:
        self.join()
        if self.error is not None:
            raise self.error


# --------------------------------------------------------------------------
# The query


class Query:
    """One file-stream query into ``keyed_lines`` via ``foreachBatch``.
    Each batch writes into its own directory, wiped first, so a batch
    re-run after a restart replaces rather than duplicates its output."""

    def __init__(self, spark, spec: StreamSpec, ops: Ops, dirs: dict[str, str]) -> None:
        self.spark, self.spec, self.ops, self.dirs = spark, spec, ops, dirs
        self.publish: dict[int, float] = {}
        self.fb_start: dict[int, float] = {}
        self.q = None
        self.runs: list = []  # every StreamingQuery started, for its progress

    def _sink(self, df, bid: int) -> None:
        self.fb_start[bid] = time.time()
        path = os.path.join(self.dirs["sink"], f"batch-{bid:06d}")
        if os.path.exists(path):
            shutil.rmtree(path)
        try:
            df.write.format("keyed_lines").option("path", path).mode("append").save()
        except Exception as e:  # noqa: BLE001 - re-raised short, see below
            # A stop() mid-batch cancels the write. Spark pattern-matches
            # the failure text while tearing the query down, and the full
            # py4j trace overflows its regex stack; the batch still fails
            # (and re-runs after the restart) either way.
            raise RuntimeError(f"batch {bid} write failed: {type(e).__name__}") from None
        self.publish[bid] = time.time()

    def start(self) -> None:
        from pyspark.sql import functions as F

        records = self.spark.readStream.text(self.dirs["watch"]).select(
            F.col("_metadata.file_name").alias("key"), F.col("value")
        )
        out = self.ops.job.run(records)
        mode = "update" if self.spec.app == "app2" else "append"
        self.q = (
            out.writeStream.outputMode(mode)
            .foreachBatch(self._sink)
            .option("checkpointLocation", self.dirs["ckpt"])
            .start()
        )
        self.runs.append(self.q)

    def progress(self) -> list[dict]:
        """Progress of every committed batch, one per batchId, from each
        query run's ``recentProgress`` (a batch re-run after a restart
        reports once, from the run that committed it)."""
        by_batch = {}
        for q in self.runs:
            for p in q.recentProgress:
                by_batch[p.batchId] = json.loads(p.json)
        return [by_batch[b] for b in sorted(by_batch)]

    def stop(self) -> None:
        if self.q is not None:
            self.q.stop()
            self.q = None

    def check_alive(self) -> None:
        if self.q is not None and self.q.exception() is not None:
            raise RuntimeError(f"query failed: {self.q.exception()}")

    def wait_published(self, files, timeout: float = 120.0) -> dict[str, int]:
        """Block until every file in ``files`` was read by a batch that has
        published; returns the file -> batch map."""
        deadline = time.time() + timeout
        files = list(files)
        while True:
            fb = A.read_source_log(self.dirs["ckpt"])
            if all(f in fb and fb[f] in self.publish for f in files):
                return fb
            self.check_alive()
            if time.time() > deadline:
                missing = [f for f in files if f not in fb or fb[f] not in self.publish]
                raise TimeoutError(f"{len(missing)} files unpublished after {timeout}s")
            time.sleep(0.05)

    def wait_in_flight(self, timeout: float = 60.0) -> int:
        """Block until some batch is inside its sink call; returns its id."""
        deadline = time.time() + timeout
        while not set(self.fb_start) - set(self.publish):
            self.check_alive()
            if time.time() > deadline:
                raise TimeoutError("no batch in flight")
            time.sleep(0.005)
        return max(set(self.fb_start) - set(self.publish))

    def committed(self, bid: int) -> bool:
        """Whether batch ``bid`` is in the checkpoint's commit log, so a
        restart will not run it again."""
        return os.path.exists(os.path.join(self.dirs["ckpt"], "commits", str(bid)))

    def wait_committed(self, bid: int, timeout: float = 60.0) -> None:
        """Block until batch ``bid`` is committed and its progress reported,
        so that stopping the query does not cut it off after its publish."""
        deadline = time.time() + timeout
        while not (self.committed(bid) and any(p.batchId == bid for p in self.q.recentProgress)):
            self.check_alive()
            if time.time() > deadline:
                raise TimeoutError(f"batch {bid} not committed")
            time.sleep(0.05)

    def wait_republished(self, bid: int, after: float, timeout: float = 120.0) -> float:
        """Block until batch ``bid`` published at a time later than
        ``after``; returns that time."""
        deadline = time.time() + timeout
        while self.publish.get(bid, 0.0) <= after:
            self.check_alive()
            if time.time() > deadline:
                raise TimeoutError(f"batch {bid} not re-run after the restart")
            time.sleep(0.01)
        return self.publish[bid]


def read_sink(sink_dir: str, app: str) -> tuple[Counter, dict]:
    """Read back every published part. App-2 (update mode) keeps, per key,
    the value from the latest batch; App-1 is the multiset of lines."""
    stats = {"rows": 0, "parts": 0, "bytes": 0}
    got: Counter = Counter()
    latest: dict[str, tuple[int, str]] = {}
    for bdir in sorted(os.listdir(sink_dir)):
        bid = int(bdir.split("-")[1])
        for part in sorted(os.listdir(os.path.join(sink_dir, bdir))):
            if not part.startswith("part-"):
                continue
            p = os.path.join(sink_dir, bdir, part)
            stats["parts"] += 1
            stats["bytes"] += os.path.getsize(p)
            with open(p, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            stats["rows"] += len(lines)
            if app == "app1":
                got.update(lines)
                continue
            for line in lines:
                k, v = line.split("\t", 1)
                if k not in latest or latest[k][0] < bid:
                    latest[k] = (bid, v)
    if app == "app2":
        got = Counter({k: int(v) for k, (_, v) in latest.items()})
    return got, stats


def mismatch(got: Counter, want: Counter) -> int:
    """Records missing, duplicated or wrong. App-2 compares counts per key
    (each unit of difference is one record lost or double counted); App-1
    compares multisets."""
    if got == want:
        return 0
    keys = set(got) | set(want)
    return sum(abs(got.get(k, 0) - want.get(k, 0)) for k in keys)


# --------------------------------------------------------------------------
# Process-level probes


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _children(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of the Spark JVM and every process under it (the
    Python workers), sampled every 200 ms."""

    def __init__(self, jvm_pid: int) -> None:
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak = 0
        self.stop = threading.Event()

    def sample(self) -> None:
        pids = [self.jvm_pid, *_children(self.jvm_pid)]
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def run(self) -> None:
        while not self.stop.wait(0.2):
            self.sample()


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every process under it have exited."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    pids = _children(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") and _rss_bytes(p) for p in pids):
        if time.time() > deadline:
            raise RuntimeError("Spark worker processes outlived the JVM")
        time.sleep(0.05)


# --------------------------------------------------------------------------
# Traced-run collectors


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """Jobs and stages from Spark's status store, with times in epoch
    seconds. The store is kept even with the UI off (the session turns it
    off); it is reached through the py4j gateway."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList
    stages_seq = store.stageList(empty(), False, False, sc._gateway.new_array(jvm.double, 0), empty())
    stages = []
    for i in range(stages_seq.size()):
        st = stages_seq.apply(i)
        stages.append(
            {
                "id": st.stageId(),
                "name": st.name(),
                "tasks": st.numTasks(),
                "start": _opt_ms(st.submissionTime()),
                "end": _opt_ms(st.completionTime()),
                "run_ms": st.executorRunTime(),
                "shuffle_write": st.shuffleWriteBytes(),
                "shuffle_read": st.shuffleReadBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        )
    jobs_seq = store.jobsList(empty())
    jobs = []
    for i in range(jobs_seq.size()):
        jb = jobs_seq.apply(i)
        ids = jb.stageIds()
        jobs.append(
            {
                "id": jb.jobId(),
                "start": _opt_ms(jb.submissionTime()),
                "end": _opt_ms(jb.completionTime()),
                "stages": [ids.apply(j) for j in range(ids.size())],
            }
        )
    return jobs, stages


# --------------------------------------------------------------------------
# The run


def setup(spec: StreamSpec, seed: int, root: str, traced: bool, spans: A.Spans, parent: int) -> dict:
    """Session start, sink registration and a warm-up batch through the
    workload's query: what a user pays before the first result."""
    dirs = {k: os.path.join(root, k) for k in ("staging", "watch", "ckpt", "sink")}
    inputs = Inputs(spec, seed, dirs["staging"], dirs["watch"])
    warm = [inputs.make("warmup-000000.csv", WARMUP_RECORDS)]
    from streamprocessing_spark.session import get_spark
    from streamprocessing_spark.sources.linesink import register_sink

    t0 = time.time()
    spark = get_spark(f"perfbench-{spec.name}")
    t_got = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    register_sink(spark)
    try:
        ops = Ops(spark, spec.app, traced)
        query = Query(spark, spec, ops, dirs)
        inputs.drop(warm[0])
        query.start()
        query.wait_published(warm, timeout=170)
    except BaseException:
        shutdown(spark)
        raise
    t_end = time.time()
    sid = spans.add("setup", t0, t_end, parent)
    spans.add("session.get_spark", t0, t_got, sid)
    spans.add("warmup", t_got, t_end, sid)
    log(f"set-up {t_end - t0:.2f} s (get_spark {t_got - t0:.2f} s)")
    return {
        "spark": spark, "inputs": inputs, "query": query, "ops": ops, "dirs": dirs,
        "setup_s": t_end - t0, "get_spark_s": t_got - t0,
    }


def run(spec: StreamSpec, seed: int, seconds: int, root: str, traced: bool) -> dict:
    """Set-up, the timed phases and the correctness check. Returns the
    end-to-end measurements, correctness counts and, when traced, the
    per-layer metrics and spans."""
    spans = A.Spans()
    top = spans.add("workload", time.time(), 0.0, None, workload=spec.name, seed=seed)
    s = setup(spec, seed, root, traced, spans, top)
    spark, inputs, query = s["spark"], s["inputs"], s["query"]
    try:
        # the /proc walk costs CPU, so only traced runs sample memory
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid) if traced else None
        if sampler:
            sampler.sample()
            sampler.start()
        try:
            res = _phases(spec, seconds, inputs, query, spans, top)
        finally:
            query.stop()
            if sampler:
                sampler.stop.set()
                sampler.join(timeout=5)
        spans.spans[top].end = time.time()
        res.update(setup_s=s["setup_s"], get_spark_s=s["get_spark_s"])
        if sampler:
            sampler.sample()
            res["peak_rss_mb"] = sampler.peak / 1e6

        t_check = time.time()
        got, res["sink"] = read_sink(s["dirs"]["sink"], spec.app)
        res["failed"] = mismatch(got, inputs.reference())
        res["attempted"] = inputs.records_dropped
        log(f"check {time.time() - t_check:.2f} s: {res['failed']} of {res['attempted']} records wrong")
        if traced:
            jobs, stages = status_store(spark)
            res["layers"] = _layers(res, query.progress(), jobs, stages, s["ops"], query, spans)
            res["spans"] = spans
            # the source must have read every generated record exactly once
            res["failed"] += abs(res["layers"]["source.input_rows"] - res["attempted"])
    finally:
        t_down = time.time()
        shutdown(spark)
        log(f"shutdown {time.time() - t_down:.2f} s")
    return res


def _phases(spec: StreamSpec, seconds: int, inputs: Inputs, query: Query, spans: A.Spans, top: int) -> dict:
    """Three phases, each starting once the last one's input is published:

    - steady: an open-loop stream at the offered rate. After a lead-in
      (``LEAD_IN_S``) that lets batches settle to their steady size,
      the measured window (``seconds``) opens; latency samples are the
      records of the files due in it;
    - drain: the backlog files land at once; records/s until the last
      batch that reads them publishes;
    - recovery (``spec.restarts`` times): one more file lands, the query is
      stopped while the batch reading it is in flight, and is restarted
      from its checkpoint; recovery is restart to the re-run batch's
      publish."""
    per_file = int(spec.rate * FILE_PERIOD_S)
    n_lead = int(round(LEAD_IN_S / FILE_PERIOD_S))
    n_win = int(round(seconds / FILE_PERIOD_S))
    files = [inputs.make(f"stream-{i:06d}.csv", per_file) for i in range(n_lead + n_win)]
    # The backlog is spread over two files per core: Spark splits a text
    # read by file size, and one big file would leave cores idle.
    n_backlog = 2 * len(os.sched_getaffinity(0))
    backlog = [inputs.make(f"backlog-{i:06d}.csv", spec.backlog_records // n_backlog) for i in range(n_backlog)]
    window = files[n_lead:]
    # flush the generated files now, not during the timed phases
    os.sync()

    t_start = time.time()
    gen = OpenLoop(inputs, files, t_start, FILE_PERIOD_S)
    gen.start()
    try:
        fb = query.wait_published(window, timeout=120 + LEAD_IN_S + seconds)
    except BaseException:
        gen.stop.set()
        raise
    finally:
        gen.finish()
    due = {n: gen.due[n] for n in window}
    t_w0, t_w1 = min(due.values()), max(due.values()) + FILE_PERIOD_S
    lat = A.record_latencies_ms(due, inputs.rows, FILE_PERIOD_S, fb, query.publish)
    t_w_end = max(query.publish[fb[n]] for n in window)
    spans.add("phase.steady", t_w0, t_w_end, top)
    backlog_end = A.rows_pending_at(t_w1, due, inputs.rows, fb, query.publish)
    log(f"steady p50 {A.median(lat):.0f} ms, window published {t_w_end - t_w1:.2f} s after it closed")

    t_a = time.time()
    for name in backlog:
        inputs.drop(name)
    fb = query.wait_published(backlog)
    t_drained = max(query.publish[fb[n]] for n in backlog)
    spans.add("phase.drain", t_a, t_drained, top)
    drained = sum(inputs.rows[n] for n in backlog)
    log(f"drain {t_drained - t_a:.2f} s, {drained / (t_drained - t_a):.0f} records/s, "
        f"{len({fb[n] for n in backlog})} batches")

    # A cycle counts only if the batch it stopped was not committed, so the
    # restart had to run it again; otherwise it is repeated with a new file.
    # Files are made on demand in a fixed order, so a seed's inputs do not
    # depend on how many cycles were repeated.
    restarts = []
    for i in range(3 * spec.restarts):
        if len(restarts) == spec.restarts:
            break
        name = inputs.make(f"last-{i:06d}.csv", per_file)
        inputs.drop(name)
        bid = query.wait_in_flight()
        time.sleep(0.05)
        t_stop = time.time()
        query.stop()
        t_restart = time.time()
        rerun = not query.committed(bid)
        query.start()
        if rerun:
            t_first = query.wait_republished(bid, t_restart)
        query.wait_published([name])
        if not rerun:
            log(f"restart: batch {bid} committed before the stop; cycle repeated")
            continue
        restarts.append((t_stop, t_restart, t_first))
        spans.add("restart", t_stop, t_first, top, batchId=bid)
        log(f"restart: stop {t_restart - t_stop:.2f} s, batch {bid} re-run {t_first - t_restart:.2f} s")
    if len(restarts) < spec.restarts:
        raise RuntimeError(f"only {len(restarts)} of {3 * spec.restarts} stops landed mid-batch")
    t_end = max(query.publish.values())
    spans.add("phase.recovery", restarts[0][0], t_end, top)
    query.wait_committed(max(query.publish))
    return {
        "drain_rps": drained / (t_drained - t_a),
        "latency_ms": lat,
        "recovery_s": A.median(t1 - t0 for _, t0, t1 in restarts),
        "restarts": restarts,
        "backlog_rows_end": backlog_end,
        "gen_lag_ms": gen.lag_ms,
        "window": (t_start, t_end),
    }




def _progress_time(p: dict) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _trace_spans(spans: A.Spans, progress: list[dict], jobs: list[dict], query: Query, lo: float) -> None:
    """Nest micro-batches (with their durationMs phases) under the phase
    they ran in, the foreachBatch sink call under addBatch, and Spark jobs
    under the innermost span they started in."""
    phases = [i for i, sp in enumerate(spans.spans) if sp.name.startswith("phase.") or sp.name == "restart"]
    top = 0
    batch_phase: list[tuple[int, float, float]] = []
    for p in progress:
        t = _progress_time(p)
        if t < lo:
            continue
        parent = next((i for i in phases if spans.spans[i].start <= t <= spans.spans[i].end), top)
        bid = spans.add_batch(p, t, parent)
        for i in range(bid + 1, len(spans.spans)):
            sp = spans.spans[i]
            batch_phase.append((i, sp.start, sp.end))
            if sp.name == "addBatch" and p["batchId"] in query.publish:
                t0 = max(query.fb_start.get(p["batchId"], sp.start), sp.start)
                t1 = min(query.publish[p["batchId"]], sp.end)
                batch_phase.append((spans.add("sink.foreach_batch", t0, t1, i), t0, t1))
    for jb in jobs:
        if jb["start"] is None or jb["start"] < lo:
            continue
        # the innermost span the job started in: the sink call, else a phase
        inside = [i for i, a, b in batch_phase if a <= jb["start"] <= b]
        parent = inside[-1] if inside else top
        spans.add("spark.job", jb["start"], jb["end"] or jb["start"], parent, jobId=jb["id"])


def _layers(res, progress, jobs, stages, ops, query, spans) -> dict:
    """Per-layer metrics from the traced run's probes, over the timed
    window (stream start to the last restart's batch) unless named
    otherwise."""
    lo, hi = res["window"]
    _trace_spans(spans, progress, jobs, query, lo)
    timed = [p for p in progress if _progress_time(p) >= lo]

    def dmed(key):
        return A.median(p["durationMs"].get(key, 0) for p in timed)

    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in timed)
    add = sum(p["durationMs"].get("addBatch", 0) for p in timed)
    named = sum(p["durationMs"].get(k, 0) for p in timed for k in A.BATCH_PHASES)
    st_ops = [p["stateOperators"][0] for p in timed if p.get("stateOperators")]
    firsts = []
    for _, t_restart, _ in res["restarts"]:
        after = [p for p in progress if _progress_time(p) >= t_restart]
        if after:
            firsts.append(min(after, key=_progress_time)["durationMs"].get("triggerExecution", 0))
    win_stages = [s for s in stages if s["start"] is not None and s["start"] >= lo]
    win_jobs = [j for j in jobs if j["start"] is not None and j["start"] >= lo]
    result_stages = {max(j["stages"]) for j in win_jobs if j["stages"]}
    run_ms = sum(s["run_ms"] for s in win_stages)
    counters = ops.counters(progress)
    busy = counters["engine.op1.busy_ms"] + counters["engine.op2.busy_ms"]
    return {
        "session.get_spark_s": res["get_spark_s"],
        "mem.peak_rss_mb": res["peak_rss_mb"],
        "source.latest_offset_ms": dmed("latestOffset"),
        "source.get_batch_ms": dmed("getBatch"),
        "source.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "source.backlog_rows_end": res["backlog_rows_end"],
        "gen.lag_p95_ms": A.percentile(res["gen_lag_ms"], 0.95),
        **counters,
        "engine.python_share": busy / run_ms if run_ms else 0.0,
        "stream.batches": len(timed),
        "stream.trigger_ms": dmed("triggerExecution"),
        "stream.add_batch_ms": dmed("addBatch"),
        "stream.query_planning_ms": dmed("queryPlanning"),
        "stream.wal_commit_ms": dmed("walCommit"),
        "stream.commit_offsets_ms": dmed("commitOffsets"),
        "stream.overhead_frac": (trig - add) / trig if trig else 0.0,
        "stream.phase_coverage": named / trig if trig else 0.0,
        "state.rows_total": st_ops[-1].get("numRowsTotal", 0) if st_ops else 0,
        "state.memory_bytes": st_ops[-1].get("memoryUsedBytes", 0) if st_ops else 0,
        "state.commit_ms": A.median(o.get("commitTimeMs", 0) for o in st_ops),
        "state.updates_ms": A.median(o.get("allUpdatesTimeMs", 0) for o in st_ops),
        "recovery.first_batch_ms": A.median(firsts),
        "sink.rows_written": res["sink"]["rows"],
        "sink.parts_published": res["sink"]["parts"],
        "sink.bytes_written": res["sink"]["bytes"],
        "sink.stage_run_ms": sum(s["run_ms"] for s in win_stages if s["id"] in result_stages),
        "spark.jobs": len(win_jobs),
        "spark.stages": len(win_stages),
        "spark.tasks": sum(s["tasks"] for s in win_stages),
        "spark.driver_gap_frac": 1.0 - A.active_fraction(
            [(s["start"], s["end"] or hi) for s in win_stages], lo, hi
        ),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in win_stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in win_stages),
        "spark.spill_bytes": sum(s["spill"] for s in win_stages),
        "spark.executor_run_ms": run_ms,
    }
